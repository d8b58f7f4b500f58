"""Language-model-adjacent corpus statistics: BPE merge mining, a
corpus-trained bigram LM, and seasonal baselines over the event stream.

These extend the training-data-pipeline surface (tokenizer training and
fluency filtering are standard pre-training steps; seasonal baselines
are the standard anomaly gate on telemetry-style inputs):

* ``bpe_merge_pairs_top20`` — the statistic a BPE tokenizer trainer
  (Sennrich et al. 2016) computes every merge iteration: corpus-wide
  adjacent character-pair frequencies, weighted by word frequency. The
  distributed trick is the classic one — aggregate to DISTINCT words
  first (vocabulary-sized, not corpus-sized), then explode each word's
  char pairs once and weight by the word count.
* ``bigram_lm_fluency`` — train bigram/prefix counts from the corpus
  itself, then score every document by an integer MLE fluency sum
  (micro-probabilities via integer division, so both engines agree
  bit-for-bit — the same no-float-accumulation discipline as the rest
  of the text family). Rare-bigram counts double as a "weird text"
  gate (KenLM-style fluency filtering without a float log anywhere).
* ``tokenizer_fertility_by_lang`` — pieces-per-word fertility by
  (lang, source) under a full-coverage greedy max-4-char subword vocab:
  the per-language tokenizer-efficiency eval (integer piece counts as
  scan-stage higher-order aggregates; one group-by shuffle).
* ``seasonal_hour_anomalies`` — per (event_type, day-of-week, hour)
  seasonal baseline over ``events.value``; a row is anomalous when it
  exceeds 3x its seasonal-slot mean, decided by integer
  cross-multiplication (``c * n > 3 * sum_c``), never a float compare.

Scale notes: BPE pair counting shuffles vocabulary-sized data twice
(word counts, then pair counts) — at 100 TB the vocabulary is millions
of rows, not trillions, so both shuffles are tiny relative to the scan.
The bigram LM shuffles (bigram-keyed) corpus-sized token pairs for
training and joins the counts back by bigram key; head bigrams are
skewed, which AQE skew-join splitting absorbs (the profile-guided
salted-join operator in operators/skew.py is the manual fallback).
Seasonal baselines group on a bounded key space (type x 7 x 24) and
broadcast back — one partial-agg shuffle, no window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.topk import global_topn_ranked
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register

# integer micro-probability scale for the bigram LM
_LM_SCALE = 1000000

# anomaly threshold: value > _SEAS_MULT x seasonal-slot mean
_SEAS_MULT = 3
# minimum rows in a (type, dow, hour) slot for a meaningful baseline
_SEAS_MIN_N = 5


# ------------------------------------------------- BPE merge-pair mining
@register(
    "bpe_merge_pairs_top20",
    f"""
WITH tok AS (
  SELECT string_split({T.duck_norm('text')}, ' ') AS t FROM documents
), words AS (
  SELECT unnest(t) AS w FROM tok
), vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc
  FROM words WHERE length(w) >= 2 GROUP BY w
), pairs AS (
  SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair,
         wc
  FROM vocab
)
SELECT pair,
       CAST(count(*) AS BIGINT) AS n_vocab_words,
       CAST(sum(wc) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 20
""",
)
def bpe_merge_pairs_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE trainer iteration's core statistic: the 20 most frequent
    adjacent character pairs across the corpus, weighted by word
    frequency. Counting runs over the DISTINCT vocabulary (explode
    corpus -> word counts first), so the expensive per-character
    explode touches vocabulary-sized data — the standard scalable BPE
    layout. Deterministic: ties broken by pair text."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(T.norm_text("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    vocab = words.groupBy("w").agg(F.count("*").alias("wc"))
    pairs = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.count("*").alias("n_vocab_words"),
            F.sum("wc").alias("pair_count"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


# ------------------------------------------------- corpus bigram LM score
@register(
    "bigram_lm_fluency",
    f"""
WITH tok AS (
  SELECT doc_id, string_split({T.duck_norm('text')}, ' ') AS t
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS b
  FROM tok
), bge AS (
  SELECT doc_id, split_part(b, ' ', 1) AS w1, b FROM bg
), c2 AS (
  SELECT b, split_part(b, ' ', 1) AS w1,
         CAST(count(*) AS BIGINT) AS c2
  FROM bge GROUP BY b
), c1 AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
), j AS (
  SELECT g.doc_id, c2.c2, c1.c1
  FROM bge g JOIN c2 USING (b) JOIN c1 ON c1.w1 = c2.w1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum((c2 * {_LM_SCALE}) // c1) AS BIGINT) AS fluency_micro,
       CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS rare_bigrams
FROM j
GROUP BY doc_id
""",
)
def bigram_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM document fluency, engine-exact.

    Train: bigram counts ``c2(w1 w2)`` and prefix counts ``c1(w1)``
    (c1 is the count of w1 as a NON-final token, so per-prefix MLE
    probabilities sum to exactly 1). Score: each document's bigrams
    rejoin the counts and accumulate the integer micro-probability
    ``(c2 * 1e6) div c1`` — no float ever sums, so Spark and DuckDB
    agree exactly. ``rare_bigrams`` (corpus hapax transitions) is the
    fluency-filter signal: disfluent/garbled text is dense in them.

    Scale: training is ONE corpus-sized shuffle (bigram counts); prefix
    counts roll up from the bigram-count table itself (sum of c2 over
    w1 — a vocabulary-sized aggregation, since c1(w1) = Σ_w2 c2(w1 w2)
    by definition), never a second pass over the corpus. Scoring joins
    by bigram key (skew on head bigrams absorbed by AQE skew-join).
    Documents with < 2 tokens have no bigrams and emit no row, matching
    the oracle's inner-join semantics."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.split(T.norm_text("text"), " ").alias("t")
    )
    bge = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 2 THEN array() "
                "ELSE transform(sequence(1, size(t) - 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
                "END"
            )
        ).alias("b"),
    )
    # OPTIMIZATION r16 (guide §2.4; supersedes the r15 keyed pin): the
    # replay problem was that c2 had TWO consumers (the c1 rollup and
    # the scoring join), so Catalyst re-derived the corpus tokenize +
    # count shuffle per consumer. r15 fixed that with an eager keyed
    # pin — correct shape, but the pin JOB cost ~+0.3 s per run at
    # fixture scale (the one bench-visible r15 regression). This round:
    # fold c1 into c2's OWN lineage as a w1-partitioned window over the
    # vocabulary-sized count table — c2w then has exactly ONE consumer
    # (the scoring join), so there is no replay to pin away and no pin
    # job. Still exactly two corpus passes (train aggregation + scoring
    # probe, the documented scale shape); the window adds one
    # vocabulary-sized exchange. c2w is vocabulary-bounded — broadcast
    # it EXPLICITLY: fixture-size estimates otherwise make Spark
    # broadcast the corpus-sized exploded-bigram probe side instead
    # (BuildLeft), which cannot scale.
    # Interleaved noop A/B at sf0.1 (quiet host): r15 pin min 1.034 /
    # med 1.149 s → this shape min 0.743 / med 0.773 s, rows identical.
    ww = Window.partitionBy("w1")
    c2w = (
        bge.groupBy("b")
        .agg(F.count("*").alias("c2"))
        .withColumn("w1", F.substring_index("b", " ", 1))
        .withColumn("c1", F.sum("c2").over(ww))
        .select("b", "c2", "c1")
    )
    j = bge.join(F.broadcast(c2w), "b")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(
            F.expr(f"(c2 * cast({_LM_SCALE} as bigint)) div c1")
        ).alias("fluency_micro"),
        F.sum(F.when(F.col("c2") == 1, 1).otherwise(0)).alias(
            "rare_bigrams"
        ),
    )


# ------------------------------------------------- seasonal anomaly gate
@register(
    "seasonal_hour_anomalies",
    f"""
WITH p AS (
  SELECT event_id, event_type,
         CAST((epoch_ns(ts) // 1000 // 86400000000 + 4) % 7 AS BIGINT)
           AS dow,
         CAST((epoch_ns(ts) // 1000 // 3600000000) % 24 AS BIGINT) AS hod,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), s AS (
  SELECT event_type, dow, hod,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS sum_c
  FROM p GROUP BY event_type, dow, hod
)
SELECT p.event_id, p.event_type, p.dow, p.hod,
       p.c AS value_cents, s.n AS slot_n,
       round((CAST(p.c AS DOUBLE) * s.n) / s.sum_c, 6) AS mean_ratio
FROM p JOIN s USING (event_type, dow, hod)
WHERE s.n >= {_SEAS_MIN_N} AND s.sum_c > 0
  AND CAST(p.c AS HUGEINT) * s.n > {_SEAS_MULT} * CAST(s.sum_c AS HUGEINT)
""",
)
def seasonal_hour_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: a (event_type, day-of-week,
    hour-of-day) slot profile over ``events.value``, flagging rows more
    than {_SEAS_MULT}x their slot mean. The flag predicate is the
    integer cross-multiplication ``c * n > {_SEAS_MULT} * sum_c``
    (decimal(38)/HUGEINT — overflow-proof at any SF); only the reported
    ``mean_ratio`` is float, computed identically in both engines and
    rounded to 6. Day-of-week derives from epoch days
    (``(days + 4) % 7``, 0 = Sunday) so no engine-specific calendar
    function is involved.

    Scale: the baseline groups on a bounded key space (|types| x 7 x
    24) — one partial-agg shuffle, broadcast back to the scan; no
    window, no global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("(ts_ns div 1000 div 86400000000 + 4) % 7").alias("dow"),
        F.expr("(ts_ns div 1000 div 3600000000) % 24").alias("hod"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    s = ev.groupBy("event_type", "dow", "hod").agg(
        F.count("*").alias("n"), F.sum("c").alias("sum_c")
    )
    dec = "decimal(38,0)"
    return (
        ev.join(F.broadcast(s), ["event_type", "dow", "hod"])
        .filter(
            (F.col("n") >= _SEAS_MIN_N)
            & (F.col("sum_c") > 0)
            & (
                F.col("c").cast(dec) * F.col("n")
                > F.lit(_SEAS_MULT) * F.col("sum_c").cast(dec)
            )
        )
        .select(
            "event_id",
            "event_type",
            "dow",
            "hod",
            F.col("c").alias("value_cents"),
            F.col("n").alias("slot_n"),
            F.round(
                F.col("c").cast("double") * F.col("n") / F.col("sum_c"), 6
            ).alias("mean_ratio"),
        )
    )


# --------------------------------------------- BPE iteration 2 (apply+recount)
@register(
    "bpe_apply_merge_recount",
    f"""
WITH tok AS (
  SELECT string_split({T.duck_norm('text')}, ' ') AS t FROM documents
), words AS (
  SELECT unnest(t) AS w FROM tok
), vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc
  FROM words WHERE length(w) >= 2 GROUP BY w
), pairs1 AS (
  SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair, wc
  FROM vocab
), merge1 AS (
  SELECT pair AS p1 FROM pairs1
  GROUP BY pair ORDER BY CAST(sum(wc) AS BIGINT) DESC, pair LIMIT 1
), merged AS (
  SELECT replace(v.w, m.p1, chr(1)) AS w2, v.wc, m.p1
  FROM vocab v CROSS JOIN merge1 m
), pairs2 AS (
  SELECT unnest([substr(w2, i, 2) for i in range(1, length(w2))]) AS rawpair,
         wc, p1
  FROM merged WHERE length(w2) >= 2
)
SELECT replace(rawpair, chr(1), '(' || p1 || ')') AS pair,
       CAST(count(*) AS BIGINT) AS n_vocab_words,
       CAST(sum(wc) AS BIGINT) AS pair_count
FROM pairs2
GROUP BY 1
ORDER BY pair_count DESC, pair
LIMIT 10
""",
)
def bpe_apply_merge_recount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's ITERATION LOOP, unrolled once: find the top
    merge pair over the vocabulary (iteration 1), apply it to every
    word (left-to-right non-overlapping ``replace`` — exactly the
    greedy symbol merge while both pair symbols are still single
    characters), and recount adjacent pairs (iteration 2). The merged
    symbol travels as a sentinel char(1) (absent from normalized text)
    and is expanded to ``(pair)`` for display, so the output is the
    iteration-2 merge table a real trainer would consume. The whole
    two-step chain is ONE lazy plan — the scalar winning pair is a
    1-row broadcast, not a driver round-trip.

    Scale: same vocabulary-sized shuffles as ``bpe_merge_pairs_top20``
    x 2 iterations; a full trainer loops this plan V times with the
    vocabulary persisted between steps (the kmeans_chain_two_steps
    pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(T.norm_text("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    vocab = words.groupBy("w").agg(F.count("*").alias("wc"))
    pairs1 = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "wc",
    )
    merge1 = (
        pairs1.groupBy("pair")
        .agg(F.sum("wc").alias("pc"))
        .orderBy(F.desc("pc"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("p1"))
    )
    merged = vocab.crossJoin(F.broadcast(merge1)).select(
        F.expr("replace(w, p1, chr(1))").alias("w2"), "wc", "p1"
    )
    pairs2 = merged.filter(F.length("w2") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w2) - 1), "
                "i -> substring(w2, i, 2))"
            )
        ).alias("rawpair"),
        "wc",
        "p1",
    )
    return (
        pairs2.select(
            F.expr("replace(rawpair, chr(1), concat('(', p1, ')'))").alias(
                "pair"
            ),
            "wc",
        )
        .groupBy("pair")
        .agg(
            F.count("*").alias("n_vocab_words"),
            F.sum("wc").alias("pair_count"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(10)
    )


# --------------------------------------- C4 three-sentence-span dedup
@register(
    "c4_sentence_span_dedup",
    f"""
WITH sent AS (
  SELECT doc_id,
         string_split(
           regexp_replace({T.duck_norm('text')},
                          '([.!?]+) ', '\\1' || chr(1), 'g'),
           chr(1)) AS s
  FROM documents
), spans AS (
  SELECT doc_id, len(s) AS n_sentences,
         [{{'pos': i,
            'h': {T.duck_hash60("s[i] || ' ' || s[i+1] || ' ' || s[i+2]")}}}
          for i in range(1, len(s) - 1)] AS sp
  FROM sent
), occ AS (
  SELECT doc_id, u.pos AS pos, u.h AS h
  FROM (SELECT doc_id, unnest(sp) AS u FROM spans)
), g AS (
  SELECT h, CAST(count(*) AS BIGINT) AS cnt,
         CAST(min(doc_id * 1000000 + pos) AS BIGINT) AS ckey
  FROM occ GROUP BY h
), per_doc AS (
  SELECT o.doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_spans,
         CAST(sum(CASE WHEN g.cnt > 1
                        AND o.doc_id * 1000000 + o.pos <> g.ckey
                  THEN 1 ELSE 0 END) AS BIGINT) AS removed_spans
  FROM occ o JOIN g USING (h)
  GROUP BY o.doc_id
)
SELECT s.doc_id,
       CAST(s.n_sentences AS BIGINT) AS n_sentences,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.dup_spans, 0) AS dup_spans,
       coalesce(p.removed_spans, 0) AS removed_spans
FROM (SELECT doc_id, n_sentences FROM spans) s
LEFT JOIN per_doc p USING (doc_id)
""",
)
def c4_sentence_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's sub-document dedup rule (Raffel et al. 2020, C4): any
    three-sentence span occurring more than once in the corpus is
    removed everywhere EXCEPT one canonical occurrence. Sentences come
    from a portable regex segmentation (sentence-final punctuation
    followed by a space becomes a char(1) split marker — no lookbehind,
    which RE2-based oracle engines lack); spans are consecutive
    sentence triples hashed to 60 bits; the canonical keeper is the
    global minimum (doc_id, position), packed into one BIGINT so
    ``min()`` resolves it in a single aggregation. Output: per
    document, how many spans it has, how many are corpus-duplicated,
    and how many the C4 rule strips from THIS document (the
    non-canonical occurrences).

    Scale: spans are born in the scan projection; the only shuffles
    carry (hash, doc, pos) triples — never text. The packed canonical
    key documents its bound (< 1e6 spans per doc); at 100 TB the
    keeper-selection groupBy is the same single shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id",
        F.split(
            F.regexp_replace(
                T.norm_text("text"), r"([.!?]+) ", "$1\x01"
            ),
            "\x01",
        ).alias("s"),
    )
    h = T.hash60_sql(
        "concat(element_at(s, i), ' ', element_at(s, i + 1), "
        "' ', element_at(s, i + 2))"
    )
    spans = sent.select(
        "doc_id",
        F.size("s").alias("n_sentences"),
        F.expr(
            f"CASE WHEN size(s) < 3 THEN array() "
            f"ELSE transform(sequence(1, size(s) - 2), "
            f"i -> struct(i AS pos, {h} AS h)) END"
        ).alias("sp"),
    )
    occ = spans.select("doc_id", F.explode("sp").alias("u")).select(
        "doc_id", F.col("u.pos").alias("pos"), F.col("u.h").alias("h")
    )
    g = occ.groupBy("h").agg(
        F.count("*").alias("cnt"),
        F.min(F.col("doc_id") * 1000000 + F.col("pos")).alias("ckey"),
    )
    per_doc = (
        occ.join(g, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias(
                "dup_spans"
            ),
            F.sum(
                F.when(
                    (F.col("cnt") > 1)
                    & (
                        F.col("doc_id") * 1000000 + F.col("pos")
                        != F.col("ckey")
                    ),
                    1,
                ).otherwise(0)
            ).alias("removed_spans"),
        )
    )
    return (
        spans.select("doc_id", F.col("n_sentences").cast("long"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_sentences",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
            F.coalesce("removed_spans", F.lit(0)).alias("removed_spans"),
        )
    )


@register(
    "zipf_slope_fit",
    f"""
WITH tok AS (
  SELECT unnest(string_split({T.duck_norm()}, ' ')) AS token
  FROM documents
), freq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
), ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, token) AS DOUBLE))
           AS x,
         ln(CAST(n AS DOUBLE)) AS y
  FROM freq
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM ranked
)
SELECT n_types,
       round((n_types * sxy - sx * sy)
             / (n_types * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n_types * sxy - sx * sy)
                    / (n_types * sxx - sx * sx)) * sx)
             / n_types, 6) AS intercept
FROM m
""",
)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent: OLS of ln(frequency) on ln(rank) over the
    corpus vocabulary (frequency ties rank deterministically by
    token). Natural language sits near slope −1; synthetic or
    template-heavy corpora flatten — a cheap corpus-health signal next
    to the coverage curve. ln terms follow the HLL/PageRank double
    policy (sum order differences are ~1e-16 against a 1e-6 rounding).

    Scale shape: the corpus collapses to the (token, count) vocabulary
    in one shuffle; ranks are assigned by the two-phase range-partition
    operator (every type gets a rank, so a head-slice TakeOrdered can't
    express it and a global window would funnel 10^8+ types through
    one task — VERDICT r9 #1); the 5-sum fit is a scalar aggregate.
    """
    doc = load_table(spark, sf_dir, "documents").withColumn(
        "norm", T.norm_text("text")
    )
    freq = (
        doc.select(F.explode(T.tokens("norm")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from oracle_vector_search_spark.operators.ingest import (
        assign_index_ids_two_phase,
    )

    ranked = assign_index_ids_two_phase(
        freq.withColumn("negn", -F.col("n")),
        order_cols=["negn", "token"],
    ).select(
        F.log(F.col("id").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        F.col("n_types") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (
        F.col("n_types") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n_types").cast("bigint").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n_types"), 6
        ).alias("intercept"),
    )


# ------------------------------------- WordPiece greedy tokenizer (apply)

_WP_HEAD = 5_000  # most frequent word types the tokenizer is applied to
_WP_VOCAB = 256  # mined multi-char vocabulary size (plus all chars)
_WP_MAXLEN = 16  # word-length cap == greedy round bound
_WP_MAXPIECE = 4  # longest mined piece


@register(
    "wordpiece_greedy_tokenize_top30",
    f"""
WITH RECURSIVE words AS (
  SELECT unnest(string_split({T.duck_norm('text')}, ' ')) AS w
  FROM documents
), types AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM words
  WHERE length(w) BETWEEN 1 AND {_WP_MAXLEN}
  GROUP BY w ORDER BY wc DESC, w LIMIT {_WP_HEAD}
), cand AS (
  SELECT unnest([substr(w, i, u.l)
                 FOR i IN range(1, length(w) - u.l + 2)]) AS piece, wc
  FROM types, unnest([1, 2, 3, 4]) AS u(l)
  WHERE length(w) >= u.l
), top_pieces AS (
  SELECT piece FROM cand GROUP BY piece
  ORDER BY CAST(sum(wc) AS BIGINT) DESC, piece LIMIT {_WP_VOCAB}
), vocab AS (
  SELECT piece FROM top_pieces
  UNION
  SELECT DISTINCT piece FROM cand WHERE length(piece) = 1
), seg(word, wc, pos, piece) AS (
  SELECT w, wc, 0, CAST(NULL AS VARCHAR) FROM types
  UNION ALL
  SELECT s.word, s.wc, s.pos + length(m.piece), m.piece
  FROM seg s, LATERAL (
    SELECT v.piece FROM vocab v
    WHERE v.piece = substr(s.word, s.pos + 1, length(v.piece))
    ORDER BY length(v.piece) DESC LIMIT 1
  ) m
  WHERE s.pos < length(s.word)
)
SELECT piece,
       CAST(sum(wc) AS BIGINT) AS n_uses,
       CAST(count(DISTINCT word) AS BIGINT) AS n_word_types
FROM seg WHERE piece IS NOT NULL
GROUP BY piece ORDER BY n_uses DESC, piece LIMIT 30
""",
)
def wordpiece_greedy_tokenize_top30(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WordPiece-style tokenizer APPLY (greedy longest-prefix match —
    the published BERT WordPiece inference rule, minus the ``##``
    continuation marker so one vocabulary serves every position):
    mine a {_WP_VOCAB}-piece vocabulary (top substrings of length ≤
    {_WP_MAXPIECE} over the {_WP_HEAD} most frequent word types,
    occurrence-weighted, plus every single character so segmentation
    can never fail), then segment each word type by repeatedly taking
    the longest vocabulary piece at the cursor. Output: the 30 most
    used pieces with occurrence-weighted use counts and word-type
    reach — the fertility table a tokenizer evaluation reads.

    Physical shape: the greedy cursor is data-dependent iteration, so
    it runs as {_WP_MAXLEN} unrolled rounds (the word-length cap
    bounds piece count) over the ACTIVE word types only — each round
    is explode(4 candidate lengths) → broadcast-join the ≤{_WP_VOCAB
    + 96}-piece vocab → per-word longest match wins → advance cursor;
    finished words leave the loop. Rounds are localCheckpoint-pinned
    (the repo-wide iterative discipline) so the plan stays flat. The
    oracle replays the exact loop as a DuckDB recursive CTE with a
    LATERAL longest-match probe. Complements the BPE TRAINER queries
    (`bpe_merge_pairs_top20` / `bpe_apply_merge_recount`): this is the
    apply side a serving pipeline runs per-document.

    100 TB shape: the corpus pass is one word-histogram aggregate
    (vocabulary-sized shuffle); the greedy loop never touches the
    corpus again — it iterates over the {_WP_HEAD}-row type table, and
    real deployments apply the frozen vocab as a scan-stage map."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(T.norm_text("text"), " ")).alias("w")
    ).filter(F.length("w").between(1, _WP_MAXLEN))
    # head slice via TakeOrderedAndProject (per-partition partial
    # top-k), not a global single-task window — a web-scale word
    # histogram is 10^8+ types (VERDICT r9 #1)
    # every pinned frame below (vocab, seed, per-round steps) is
    # lazily referenced by the final emitted union, so all of them
    # stay until the query's next invocation releases them
    types = pin(  # reused by mining AND as the loop seed
        global_topn_ranked(
            words.groupBy("w").agg(F.count("*").alias("wc")),
            _WP_HEAD, F.desc("wc"), F.asc("w"),
        ).drop("rank")
    )
    cand = (
        types.select(
            "w",
            "wc",
            F.explode(
                F.array(*[F.lit(l) for l in range(1, _WP_MAXPIECE + 1)])
            ).alias("l"),
        )
        .filter(F.length("w") >= F.col("l"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - l + 1), "
                    "i -> substring(w, i, l))"
                )
            ).alias("piece"),
            "wc",
        )
    )
    top_pieces = global_topn_ranked(
        cand.groupBy("piece").agg(F.sum("wc").alias("cnt")),
        _WP_VOCAB, F.desc("cnt"), F.asc("piece"),
    ).select("piece")
    chars = cand.filter(F.length("piece") == 1).select("piece").distinct()
    vocab = pin(top_pieces.union(chars).distinct())

    active = pin(
        types.select(
            F.col("w").alias("word"), "wc", F.lit(0).alias("pos")
        )
    )
    emitted = None
    best_w = Window.partitionBy("word").orderBy(F.desc("l"))
    for _ in range(_WP_MAXLEN):
        matched = (
            active.select(
                "word",
                "wc",
                "pos",
                F.explode(
                    F.array(
                        *[F.lit(l) for l in range(1, _WP_MAXPIECE + 1)]
                    )
                ).alias("l"),
            )
            .filter(F.col("pos") + F.col("l") <= F.length("word"))
            .withColumn("c", F.expr("substring(word, pos + 1, l)"))
            .join(F.broadcast(vocab), F.col("c") == F.col("piece"))
            .withColumn("rn", F.row_number().over(best_w))
            .filter(F.col("rn") == 1)  # longest match at the cursor
        )
        step = pin(
            matched.select(
                "word",
                "wc",
                "piece",
                (F.col("pos") + F.col("l")).alias("pos"),
            )
        )
        emitted = (
            step if emitted is None else emitted.unionByName(step)
        )
        active = step.filter(
            F.col("pos") < F.length("word")
        ).select("word", "wc", "pos")
        if active.isEmpty():
            break
    return (
        emitted.groupBy("piece")
        .agg(
            F.sum("wc").alias("n_uses"),
            F.countDistinct("word").alias("n_word_types"),
        )
        .orderBy(F.desc("n_uses"), F.asc("piece"))
        .limit(30)
    )


# --------------------- unigram-LM Viterbi tokenizer (apply, round 8)

_UV_HEAD = 2_000  # most frequent word types segmented
_UV_VOCAB = 192  # mined multi-char vocabulary size (plus all chars)
_UV_MAXLEN = 12  # word-length cap == DP round bound
_UV_MAXPIECE = 4  # longest mined piece


def _uv_viterbi_paths(spark: SparkSession, sf_dir: str):
    """Shared unigram-LM machinery (mine vocab+costs, run the
    one-expression Viterbi): returns ``(paths, costs)`` where paths =
    (word, wc, path) — the best segmentation per head word type — and
    costs = (piece, pc) bit costs.  Used by the APPLY query and the
    r9 hard-EM trainer step."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(T.norm_text("text"), " ")).alias("w")
    ).filter(F.length("w").between(1, _UV_MAXLEN))
    types = pin(
        global_topn_ranked(
            words.groupBy("w").agg(F.count("*").alias("wc")),
            _UV_HEAD, F.desc("wc"), F.asc("w"),
        ).drop("rank"),
    )
    cand = (
        types.select(
            "w",
            "wc",
            F.explode(
                F.array(*[F.lit(l) for l in range(1, _UV_MAXPIECE + 1)])
            ).alias("l"),
        )
        .filter(F.length("w") >= F.col("l"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - l + 1), "
                    "i -> substring(w, i, l))"
                )
            ).alias("piece"),
            "wc",
        )
    )
    cnts = cand.groupBy("piece").agg(
        F.sum("wc").cast("long").alias("cnt")
    )
    top_pieces = global_topn_ranked(
        cnts, _UV_VOCAB, F.desc("cnt"), F.asc("piece")
    ).select("piece")
    chars = cnts.filter(F.length("piece") == 1).select("piece")
    vocab = top_pieces.union(chars).distinct()
    with_cnt = vocab.join(cnts, "piece")
    tot = with_cnt.agg(F.sum("cnt").cast("long").alias("total"))
    costs = pin(
        with_cnt.crossJoin(F.broadcast(tot)).select(
            "piece",
            (
                F.length(F.expr("bin(total)"))
                - F.length(F.expr("bin(cnt)"))
            ).cast("long").alias("pc"),
        ),
    )

    # the WHOLE Viterbi runs inside ONE Catalyst expression per word:
    # the vocab cost table folds into a single map column (broadcast,
    # one row), and aggregate(sequence(1, L)) builds the dp array —
    # dp[i] = min over l=1..4 of dp[i-l] + cost(substring), the min
    # taken by array_sort over the candidate structs so (cost, k,
    # path) ordering is the struct field order. No per-round driver
    # loop, no shuffle in the apply: the tokenizer IS a scan-stage map.
    vc = costs.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "pc"))
        ).alias("vc")
    )
    cand_l = ", ".join(
        f"""CASE WHEN i >= {l}
                 AND element_at(vc, substring(word, i - {l} + 1, {l}))
                     IS NOT NULL
            THEN named_struct(
              'cost', element_at(acc, i - {l} + 1).cost
                      + element_at(vc, substring(word, i - {l} + 1, {l})),
              'k', element_at(acc, i - {l} + 1).k + 1,
              'path', CASE WHEN element_at(acc, i - {l} + 1).path = ''
                           THEN substring(word, i - {l} + 1, {l})
                           ELSE element_at(acc, i - {l} + 1).path || ' '
                                || substring(word, i - {l} + 1, {l}) END)
            ELSE NULL END"""
        for l in range(1, _UV_MAXPIECE + 1)
    )
    dp_expr = f"""
    aggregate(
      sequence(1, length(word)),
      array(named_struct('cost', CAST(0 AS BIGINT), 'k', 0, 'path', '')),
      (acc, i) -> acc || array(element_at(
          array_sort(filter(array({cand_l}), x -> x IS NOT NULL)), 1)),
      acc -> element_at(acc, -1).path
    )"""
    paths = (
        types.select(F.col("w").alias("word"), "wc")
        .crossJoin(F.broadcast(vc))
        .selectExpr("word", "wc", f"{dp_expr} AS path")
    )
    return paths, costs


@register(
    "unigram_viterbi_tokenize_top30",
    f"""
WITH RECURSIVE words AS (
  SELECT unnest(string_split({T.duck_norm('text')}, ' ')) AS w
  FROM documents
), types AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM words
  WHERE length(w) BETWEEN 1 AND {_UV_MAXLEN}
  GROUP BY w ORDER BY wc DESC, w LIMIT {_UV_HEAD}
), cand AS (
  SELECT unnest([substr(w, i, u.l)
                 FOR i IN range(1, length(w) - u.l + 2)]) AS piece, wc
  FROM types, unnest([1, 2, 3, 4]) AS u(l)
  WHERE length(w) >= u.l
), cnts AS (
  SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt
  FROM cand GROUP BY piece
), top_pieces AS (
  SELECT piece FROM cnts
  ORDER BY cnt DESC, piece LIMIT {_UV_VOCAB}
), vocab AS (
  SELECT DISTINCT piece FROM (
    SELECT piece FROM top_pieces
    UNION ALL
    SELECT piece FROM cnts WHERE length(piece) = 1
  )
), tot AS (
  SELECT CAST(sum(c.cnt) AS BIGINT) AS total
  FROM vocab v JOIN cnts c USING (piece)
), costs AS (
  SELECT v.piece,
         CAST(length(bin(t.total)) - length(bin(c.cnt)) AS BIGINT) AS pc
  FROM vocab v JOIN cnts c USING (piece) CROSS JOIN tot t
), seg(word, wc, pos, cost, k, path) AS (
  SELECT w, wc, 0, CAST(0 AS BIGINT), 0, '' FROM types
  UNION ALL
  SELECT s.word, s.wc, s.pos + length(c.piece), s.cost + c.pc, s.k + 1,
         CASE WHEN s.path = '' THEN c.piece
              ELSE s.path || ' ' || c.piece END
  FROM seg s JOIN costs c
    ON c.piece = substr(s.word, s.pos + 1, length(c.piece))
  WHERE s.pos < length(s.word)
), best AS (
  SELECT word, wc, path,
         row_number() OVER (PARTITION BY word
                            ORDER BY cost, k, path) AS rn
  FROM seg WHERE pos = length(word)
)
SELECT piece,
       CAST(sum(wc) AS BIGINT) AS n_uses,
       CAST(count(DISTINCT word) AS BIGINT) AS n_word_types
FROM (SELECT word, wc, unnest(string_split(path, ' ')) AS piece
      FROM best WHERE rn = 1)
GROUP BY piece ORDER BY n_uses DESC, piece LIMIT 30
""",
)
def unigram_viterbi_tokenize_top30(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM tokenizer APPLY via exact Viterbi (the SentencePiece
    unigram inference rule, Kudo 2018): each of the {_UV_HEAD} most
    frequent word types is segmented into the MINIMUM-TOTAL-COST piece
    sequence over a mined vocabulary ({_UV_VOCAB} top substrings of
    length ≤ {_UV_MAXPIECE}, occurrence-weighted, plus every single
    character so segmentation never fails).

    The cost model is the engine-portable INTEGER Shannon-Fano cost
    ``bits(total) − bits(count)`` (bit lengths via ``bin()`` — exact
    in both engines), i.e. ⌈−log₂ p⌉ up to one bit, instead of float
    log-probabilities: libm ``ln`` can differ between engines in the
    last ulp, and ONE flipped DP comparison would change a whole
    segmentation.  With integer costs the DP is bit-exact; ties break
    on (piece count, then path string), a total order that composes
    under Bellman optimality (an equal-cost prefix swap can only make
    the full path smaller in the same order — so per-position pruning
    keeps the global optimum).

    Physical shape: the corpus pass is ONE word-histogram aggregate;
    the vocab cost table folds into a single broadcast MAP column and
    the whole per-word DP runs inside ONE Catalyst expression —
    ``aggregate(sequence(1, L))`` builds the dp array, each position
    taking the min of ≤{_UV_MAXPIECE} candidate structs via
    ``array_sort`` (struct field order IS the (cost, k, path) tie
    order).  No driver rounds, no shuffle in the apply: the tokenizer
    is literally a scan-stage map, which is how a deployment would
    run a frozen vocab over 100 TB.  The oracle instead ENUMERATES
    every segmentation with a recursive CTE and takes the same min —
    a different algorithm arriving at the same optimum, which is what
    makes the check strong.  Completes the tokenizer family: BPE
    (trainer), WordPiece (greedy apply), unigram (Viterbi apply)."""
    final, _ = _uv_viterbi_paths(spark, sf_dir)
    return (
        final.select(
            "word", "wc", F.explode(F.split("path", " ")).alias("piece")
        )
        .groupBy("piece")
        .agg(
            F.sum("wc").cast("long").alias("n_uses"),
            F.countDistinct("word").cast("long").alias("n_word_types"),
        )
        .orderBy(F.desc("n_uses"), F.asc("piece"))
        .limit(30)
    )


# --------------------- BPE ranked-merge tokenizer (apply, round 9)

_BP_HEAD = 3_000  # most frequent word types the merges are applied to
_BP_MERGES = 256  # ranked merge-table size
_BP_MAXLEN = 12  # word-length cap == merge-round bound (<= L-1 rounds)


@register(
    "bpe_apply_ranked_merges_top30",
    f"""
WITH RECURSIVE words AS (
  SELECT unnest(string_split({T.duck_norm('text')}, ' ')) AS w
  FROM documents
), types AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM words
  WHERE length(w) BETWEEN 2 AND {_BP_MAXLEN}
  GROUP BY w ORDER BY wc DESC, w LIMIT {_BP_HEAD}
), prs AS (
  SELECT unnest([substr(w, i, 2) for i in range(1, length(w))]) AS pair,
         wc
  FROM types
), merges AS (
  SELECT substr(pair, 1, 1) AS a, substr(pair, 2, 1) AS b,
         CAST(row_number()
              OVER (ORDER BY sum_wc DESC, pair) AS BIGINT) AS rank
  FROM (SELECT pair, CAST(sum(wc) AS BIGINT) AS sum_wc
        FROM prs GROUP BY pair)
  ORDER BY rank LIMIT {_BP_MERGES}
), seg(word, wc, s) AS (
  -- one merge OCCURRENCE per step: leftmost occurrence of the
  -- min-rank applicable rule.  Char-char merges never create new
  -- char-pair adjacencies, so the min-rank rule stays min until
  -- exhausted and this equals the merge-all-occurrences round.
  SELECT w, wc,
         array_to_string([substr(w, i, 1)
                          for i in range(1, length(w) + 1)], ' ')
  FROM types
  UNION ALL
  SELECT g.word, g.wc,
         trim(substr(' ' || g.s || ' ', 1, m.p - 1)
              || ' ' || m.a || m.b || ' '
              || substr(' ' || g.s || ' ',
                        m.p + length(m.a) + length(m.b) + 3))
  FROM seg g, LATERAL (
    SELECT a, b,
           strpos(' ' || g.s || ' ', ' ' || a || ' ' || b || ' ') AS p
    FROM merges
    WHERE strpos(' ' || g.s || ' ', ' ' || a || ' ' || b || ' ') > 0
    ORDER BY rank LIMIT 1
  ) m
), final AS (
  SELECT word, wc, s FROM seg g
  WHERE NOT EXISTS (
    SELECT 1 FROM merges m
    WHERE strpos(' ' || g.s || ' ',
                 ' ' || m.a || ' ' || m.b || ' ') > 0)
)
SELECT piece,
       CAST(sum(wc) AS BIGINT) AS n_uses,
       CAST(count(DISTINCT word) AS BIGINT) AS n_word_types
FROM (SELECT word, wc, unnest(string_split(s, ' ')) AS piece
      FROM final)
GROUP BY piece ORDER BY n_uses DESC, piece LIMIT 30
""",
)
def bpe_apply_ranked_merges_top30(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BPE tokenizer APPLY with a RANKED merge table (the Sennrich
    2016 inference rule): each word starts as its character sequence;
    while any adjacent symbol pair is in the merge table, merge every
    left-to-right non-overlapping occurrence of the LOWEST-RANK
    applicable pair, then re-select.  The {_BP_MERGES}-merge table is
    mined in the same plan — the top adjacent character pairs by
    occurrence-weighted frequency over the {_BP_HEAD} most frequent
    word types, rank = (count desc, pair asc) — i.e. the one-pass
    frequency-ranked approximation of the sequential trainer (whose
    per-iteration statistic and one unrolled iteration are
    `bpe_merge_pairs_top20` / `bpe_apply_merge_recount`).  Output:
    the 30 most used final pieces with occurrence-weighted use counts
    and word-type reach, completing oracle-checked INFERENCE for all
    three tokenizer families (BPE ranked-merge, WordPiece greedy,
    unigram Viterbi).

    Physical shape (the `unigram_viterbi_tokenize_top30` design): the
    corpus pass is ONE word-histogram aggregate; the merge table
    folds into a single broadcast map column ("a b" → rank) and the
    WHOLE merge loop runs per word inside ONE Catalyst expression —
    ``aggregate(sequence(1, {_BP_MAXLEN - 1}))`` iterates bounded
    rounds, each selecting the min-rank applicable pair (adjacent-
    pair ``transform`` → map lookup → ``array_sort`` head) and
    merging all its occurrences with an inner ``aggregate()`` fold
    over the symbol array (left-to-right non-overlap falls out of
    the fold: a merged tail never re-matches the rule's left
    symbol).  No driver rounds, no shuffle in the apply.  Round
    bound: char-char merges never create new char-pair adjacencies,
    so each round permanently exhausts ≥1 rule and symbols strictly
    shrink — ≤ L−1 rounds; exhausted words pass through untouched.
    The oracle replays the loop as a DuckDB recursive CTE merging one
    leftmost occurrence per step (equivalent by the same argument).

    100 TB shape: the corpus pass is vocabulary-sized after the first
    aggregate; the loop never touches the corpus.  A deployment
    applies the FROZEN ranked table as a scan-stage map — the same
    broadcast-map-lookup shape as `unigram_viterbi_tokenize_top30`."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(T.norm_text("text"), " ")).alias("w")
    ).filter(F.length("w").between(2, _BP_MAXLEN))
    types = pin(
        global_topn_ranked(
            words.groupBy("w").agg(F.count("*").alias("wc")),
            _BP_HEAD, F.desc("wc"), F.asc("w"),
        ).drop("rank"),
    )
    prs = types.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "wc",
    )
    merges = (
        global_topn_ranked(
            prs.groupBy("pair").agg(F.sum("wc").alias("pc")),
            _BP_MERGES, F.desc("pc"), F.asc("pair"),
        )
        .select(
            F.concat(
                F.substring("pair", 1, 1),
                F.lit(" "),
                F.substring("pair", 2, 1),
            ).alias("p"),
            F.col("rank").cast("long").alias("rank"),
        )
    )
    # the whole merge table as ONE broadcast map column: "a b" -> rank
    mrg = merges.agg(
        F.map_from_entries(F.collect_list(F.struct("p", "rank"))).alias(
            "mrg"
        )
    )

    # min-rank applicable pair over the current symbol array (NULL if
    # no adjacent pair is in the table); array_sort on (rank, pair)
    # structs, rank unique by construction
    _BEST = """
    try_element_at(
      array_sort(filter(
        transform(sequence(1, size(syms) - 1),
          i -> named_struct(
            'r', element_at(mrg, concat(element_at(syms, i), ' ',
                                        element_at(syms, i + 1))),
            'pr', concat(element_at(syms, i), ' ',
                         element_at(syms, i + 1)))),
        x -> x.r IS NOT NULL)),
      1).pr
    """
    # left-to-right non-overlapping merge of ALL occurrences of the
    # selected (a, b): a fold — after emitting the merged symbol the
    # accumulator tail is concat(a, b) (length >= 2), which can never
    # equal the single-char left symbol a, so overlap is impossible.
    # a = chars 1 of the pair key, b = char 3 ("a b" layout).
    _STEP = f"""
    IF(({_BEST}) IS NULL, syms,
       aggregate(syms,
         CAST(array() AS array<string>),
         (out, s) -> IF(size(out) > 0
                        AND element_at(out, -1)
                            = substring(({_BEST}), 1, 1)
                        AND s = substring(({_BEST}), 3, 1),
                        concat(slice(out, 1, size(out) - 1),
                               array(concat(
                                 substring(({_BEST}), 1, 1),
                                 substring(({_BEST}), 3, 1)))),
                        concat(out, array(s)))))
    """
    apply_expr = f"""
    aggregate(sequence(1, {_BP_MAXLEN - 1}),
      transform(sequence(1, length(word)),
                i -> substring(word, i, 1)),
      (syms, step_i) -> ({_STEP}))
    """
    final = (
        types.select(F.col("w").alias("word"), "wc")
        .crossJoin(F.broadcast(mrg))
        .selectExpr("word", "wc", f"{apply_expr} AS syms")
    )
    return (
        final.select("word", "wc", F.explode("syms").alias("piece"))
        .groupBy("piece")
        .agg(
            F.sum("wc").cast("long").alias("n_uses"),
            F.countDistinct("word").cast("long").alias("n_word_types"),
        )
        .orderBy(F.desc("n_uses"), F.asc("piece"))
        .limit(30)
    )


# ------------- unigram-LM trainer: hard-EM prune step (round 9)

_UV_KEEP = 144  # pieces kept after the prune (~25% of a 192-vocab cut)


@register(
    "unigram_em_prune_step",
    f"""
WITH RECURSIVE words AS (
  SELECT unnest(string_split({T.duck_norm('text')}, ' ')) AS w
  FROM documents
), types AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM words
  WHERE length(w) BETWEEN 1 AND {_UV_MAXLEN}
  GROUP BY w ORDER BY wc DESC, w LIMIT {_UV_HEAD}
), cand AS (
  SELECT unnest([substr(w, i, u.l)
                 FOR i IN range(1, length(w) - u.l + 2)]) AS piece, wc
  FROM types, unnest([1, 2, 3, 4]) AS u(l)
  WHERE length(w) >= u.l
), cnts AS (
  SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt
  FROM cand GROUP BY piece
), top_pieces AS (
  SELECT piece FROM cnts
  ORDER BY cnt DESC, piece LIMIT {_UV_VOCAB}
), vocab AS (
  SELECT DISTINCT piece FROM (
    SELECT piece FROM top_pieces
    UNION ALL
    SELECT piece FROM cnts WHERE length(piece) = 1
  )
), tot AS (
  SELECT CAST(sum(c.cnt) AS BIGINT) AS total
  FROM vocab v JOIN cnts c USING (piece)
), costs AS (
  SELECT v.piece,
         CAST(length(bin(t.total)) - length(bin(c.cnt)) AS BIGINT) AS pc
  FROM vocab v JOIN cnts c USING (piece) CROSS JOIN tot t
), seg(word, wc, pos, cost, k, path) AS (
  SELECT w, wc, 0, CAST(0 AS BIGINT), 0, '' FROM types
  UNION ALL
  SELECT s.word, s.wc, s.pos + length(c.piece), s.cost + c.pc, s.k + 1,
         CASE WHEN s.path = '' THEN c.piece
              ELSE s.path || ' ' || c.piece END
  FROM seg s JOIN costs c
    ON c.piece = substr(s.word, s.pos + 1, length(c.piece))
  WHERE s.pos < length(s.word)
), best AS (
  SELECT word, wc, path,
         row_number() OVER (PARTITION BY word
                            ORDER BY cost, k, path) AS rn
  FROM seg WHERE pos = length(word)
), used AS (
  SELECT piece,
         CAST(sum(wc) AS BIGINT) AS uses,
         CAST(count(DISTINCT word) AS BIGINT) AS n_word_types
  FROM (SELECT word, wc, unnest(string_split(path, ' ')) AS piece
        FROM best WHERE rn = 1)
  GROUP BY piece
), kept AS (
  SELECT * FROM (
    SELECT piece, uses, n_word_types,
           CAST(row_number() OVER (ORDER BY uses DESC, piece)
                AS INTEGER) AS rank
    FROM used
  ) WHERE rank <= {_UV_KEEP}
), newtot AS (
  SELECT CAST(sum(uses) AS BIGINT) AS t2 FROM kept
)
SELECT k.rank, k.piece, k.uses, k.n_word_types,
       c.pc AS old_cost_bits,
       CAST(length(bin(n.t2)) - length(bin(k.uses)) AS BIGINT)
         AS new_cost_bits
FROM kept k JOIN costs c USING (piece) CROSS JOIN newtot n
ORDER BY k.rank
""",
)
def unigram_em_prune_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HARD-EM iteration of the SentencePiece unigram TRAINER
    (Kudo 2018 §3.2's EM + prune loop, with the Viterbi-best
    segmentation standing in for expected counts — the deterministic
    hard-EM variant, so every statistic stays an exact integer):

        E: segment every head word type under the CURRENT integer
           Shannon-Fano costs (the same one-expression Viterbi as
           `unigram_viterbi_tokenize_top30`, via the shared
           `_uv_viterbi_paths`);
        M: recount occurrence-weighted piece usage from the best
           paths;
        prune: keep the {_UV_KEEP} highest-usage pieces (ties by
           piece text) — the ~25% trim of the trainer's loop — and
           re-derive each survivor's bit cost from the NEW counts.

    Output: the surviving vocabulary with usage, word-type reach, and
    old→new integer bit costs — the table the next EM round would
    consume.  Completes the unigram family's TRAINER side (the apply
    side landed in r8), so all three tokenizer families now have both
    a trainer statistic and oracle-checked inference.

    100 TB shape: identical to the apply query (one word-histogram
    shuffle; the E-step is a scan-stage map over head word types)
    plus one vocabulary-sized usage aggregate and a 192-row prune —
    more EM rounds repeat this plan with the costs map re-derived,
    corpus untouched."""
    paths, costs = _uv_viterbi_paths(spark, sf_dir)
    used = (
        paths.select(
            "word", "wc", F.explode(F.split("path", " ")).alias("piece")
        )
        .groupBy("piece")
        .agg(
            F.sum("wc").cast("long").alias("uses"),
            F.countDistinct("word").cast("long").alias("n_word_types"),
        )
    )
    # pin the 144-row survivor table: newtot and the final join both
    # consume it, and without the pin each consumer would re-run the
    # whole E-step DP
    kept = pin(
        global_topn_ranked(used, _UV_KEEP, F.desc("uses"), F.asc("piece")),
    )
    newtot = kept.agg(F.sum("uses").cast("long").alias("t2"))
    return (
        kept.join(F.broadcast(costs), "piece")
        .crossJoin(F.broadcast(newtot))
        .select(
            "rank",
            "piece",
            "uses",
            "n_word_types",
            F.col("pc").alias("old_cost_bits"),
            (
                F.length(F.expr("bin(t2)"))
                - F.length(F.expr("bin(uses)"))
            ).cast("long").alias("new_cost_bits"),
        )
        .orderBy("rank")
    )


# ------------- WordPiece trainer: likelihood-gain pair scores (r9)

_WG_HEAD = 4_000  # most frequent word types the statistic reads
_WG_SCALE = 1_000_000_000_000  # 1e12 integer micro-scale for the gain


@register(
    "wordpiece_merge_gain_top20",
    f"""
WITH words AS (
  SELECT unnest(string_split({T.duck_norm('text')}, ' ')) AS w
  FROM documents
), types AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM words
  WHERE length(w) >= 1
  GROUP BY w ORDER BY wc DESC, w LIMIT {_WG_HEAD}
), units AS (
  SELECT unnest([substr(w, i, 1) for i in range(1, length(w) + 1)])
           AS u, wc
  FROM types
), ucnt AS (
  SELECT u, CAST(sum(wc) AS BIGINT) AS cu FROM units GROUP BY u
), pairs AS (
  SELECT unnest([substr(w, i, 2) for i in range(1, length(w))])
           AS pair, wc
  FROM types WHERE length(w) >= 2
), pcnt AS (
  SELECT pair, CAST(sum(wc) AS BIGINT) AS cab FROM pairs GROUP BY pair
), tot AS (
  SELECT CAST(sum(cu) AS BIGINT) AS n FROM ucnt
)
SELECT p.pair, p.cab,
       a.cu AS c_left, b.cu AS c_right,
       -- HUGEINT: the 1e12-scaled numerator overflows BIGINT
       CAST(({_WG_SCALE}::HUGEINT * p.cab * t.n)
            // (a.cu::HUGEINT * b.cu) AS BIGINT) AS gain_pico
FROM pcnt p
JOIN ucnt a ON a.u = substr(p.pair, 1, 1)
JOIN ucnt b ON b.u = substr(p.pair, 2, 1)
CROSS JOIN tot t
ORDER BY gain_pico DESC, p.pair
LIMIT 20
""",
)
def wordpiece_merge_gain_top20(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REAL WordPiece trainer's merge-selection statistic (Schuster
    & Nakajima 2012; the BERT trainer): candidate pair (a, b) is
    scored by LIKELIHOOD GAIN count(ab)·N / (count(a)·count(b)) — the
    pointwise-mutual-information-style ratio — rather than BPE's raw
    count(ab).  A pair of two already-frequent units must co-occur
    far above chance to win, which is exactly how WordPiece diverges
    from BPE on the same corpus (compare `bpe_merge_pairs_top20`:
    same pair table, different winners).

    The score is computed in EXACT integer picos (1e12·cab·N div
    (ca·cb), all BIGINT floor division), so the ranking — including
    every tie — is bit-identical cross-engine; no float ever orders a
    merge.  Output: the top-20 candidate merges with their unit and
    pair counts.

    100 TB shape: one corpus word-histogram shuffle, then unit/pair
    counting over the DISTINCT head types (vocabulary-sized); the
    scoring join is unit-table-keyed (alphabet-sized broadcast)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(T.norm_text("text"), " ")).alias("w")
    ).filter(F.length("w") >= 1)
    types = pin(
        global_topn_ranked(
            words.groupBy("w").agg(F.count("*").alias("wc")),
            _WG_HEAD, F.desc("wc"), F.asc("w"),
        ).drop("rank"),
    )
    ucnt = (
        types.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w)), "
                    "i -> substring(w, i, 1))"
                )
            ).alias("u"),
            "wc",
        )
        .groupBy("u")
        .agg(F.sum("wc").cast("long").alias("cu"))
    )
    pcnt = (
        types.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "wc",
        )
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("cab"))
    )
    tot = ucnt.agg(F.sum("cu").cast("long").alias("n"))
    a = ucnt.select(F.col("u").alias("ua"), F.col("cu").alias("c_left"))
    b = ucnt.select(F.col("u").alias("ub"), F.col("cu").alias("c_right"))
    scored = (
        pcnt.join(F.broadcast(a), F.expr("ua = substring(pair, 1, 1)"))
        .join(F.broadcast(b), F.expr("ub = substring(pair, 2, 1)"))
        .crossJoin(F.broadcast(tot))
        .select(
            "pair",
            "cab",
            "c_left",
            "c_right",
            # DECIMAL(38,0) on BOTH operands: the 1e12-scaled numerator
            # overflows BIGINT (cab*n ~ 1e10 at sf0.1), and the
            # denominator c_left*c_right wraps BIGINT at ~3e9+ unit
            # counts in non-ANSI Spark while DuckDB computes it in
            # HUGEINT (ADVICE r9) — widen before the multiply.
            F.expr(
                f"CAST((CAST({_WG_SCALE} AS DECIMAL(38,0)) * cab * n)"
                " div (CAST(c_left AS DECIMAL(38,0)) * c_right)"
                " AS BIGINT)"
            ).alias("gain_pico"),
        )
    )
    return global_topn_ranked(
        scored, 20, F.desc("gain_pico"), F.asc("pair")
    ).drop("rank")


@register(
    "tokenizer_fertility_by_lang",
    f"""
WITH words AS (
  SELECT lang, source, string_split({T.duck_norm('text')}, ' ') AS toks
  FROM documents
), tok AS (
  SELECT lang, source,
         CAST(list_sum([(length(t) + 3) // 4 for t in toks]) AS BIGINT)
           AS n_pieces,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum([length(t) for t in toks]) AS BIGINT) AS n_chars
  FROM words
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       round(sum(n_pieces) * 1.0 / sum(n_words), 6) AS fertility,
       round(sum(n_chars) * 1.0 / sum(n_pieces), 6) AS chars_per_piece
FROM tok GROUP BY lang, source
""",
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility (pieces per word) by (lang, source) — the
    standard per-language tokenizer-efficiency eval run before fixing a
    vocab for multilingual pre-training: a language whose fertility is
    high pays more sequence length per word, so its token budget buys
    fewer effective words.

    The segmenter is a full-coverage greedy max-4-char subword vocab,
    so a word of length L costs exactly ``(L + 3) div 4`` pieces —
    integer math both engines reproduce bit-for-bit (the real-BPE apply
    path is ``bpe_apply_ranked_merges_top30``; this query is the
    corpus-level EVAL aggregate, which only needs the piece count, not
    the pieces). Fertility and chars-per-piece divide once per GROUP at
    6 decimals — no float accumulation.

    Scale: per-doc piece/word/char counts are scan-stage higher-order
    aggregates over the split array (never an exploded token table).
    Note Catalyst's CollapseProject merges the named ``toks``
    projection into its consumers, so single evaluation of the
    normalize+split relies on codegen subexpression elimination (which
    does fire for these deterministic expressions), not on the
    projection boundary; the naming is for readability. The only
    shuffle carries one integer triple per document to the
    (lang, source) groups, and partial aggregation collapses that to
    ≤ |langs|×|sources| rows per task before it moves.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang", "source", F.split(T.norm_text("text"), " ").alias("toks")
    )
    tok = words.select(
        "lang",
        "source",
        F.expr(
            "aggregate(toks, cast(0 as bigint), "
            "(a, t) -> a + (length(t) + 3) div 4)"
        ).alias("n_pieces"),
        F.size("toks").cast("bigint").alias("n_words"),
        F.expr(
            "aggregate(toks, cast(0 as bigint), (a, t) -> a + length(t))"
        ).alias("n_chars"),
    )
    return tok.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_pieces").alias("total_pieces"),
        F.sum("n_words").alias("total_words"),
        F.round(F.sum("n_pieces") * 1.0 / F.sum("n_words"), 6).alias(
            "fertility"
        ),
        F.round(F.sum("n_chars") * 1.0 / F.sum("n_pieces"), 6).alias(
            "chars_per_piece"
        ),
    )
