"""Corpus-curation operators — the published web-scale recipes.

Four classic curation stages a 100 TB training-data pipeline runs after
the heuristic filters (text_queries) and around the dedup cascade
(dedup_queries), each re-expressed as exact, oracle-checkable Spark:

* ``quality_classifier_keep`` — fastText-style hashed linear classifier
  (Joulin et al. 2016; the CommonCrawl "quality classifier" stage of
  GPT-3/LLaMA-style pipelines). Frozen hash-derived weights make the
  score deterministic and SQL-expressible.
* ``dsir_importance_select`` — Data Selection via Importance Resampling
  (Xie et al. 2023): hashed n-gram bucket counts for a target domain vs
  the raw corpus; per-document importance = product of bucket ratios.
  Computed in exact integer micro-units (no log/exp) so the DuckDB twin
  hash-matches bit-for-bit regardless of summation order.
* ``semantic_dedup_keep`` — SemDeDup (Abbas et al. 2023): cluster the
  embedding space with frozen seeds, then drop near-duplicate members
  within each cluster. Pairing is cluster-partitioned — O(Σ cluster²),
  never corpus² — the published trick that makes embedding-cosine
  dedup feasible at scale.
* ``lm_perplexity_buckets`` — CCNet-style head/middle/tail split
  (Wenzek et al. 2020): per-language perplexity terciles from a frozen
  (hash-stub) unigram LM. The LM is a stand-in — the bucketing
  machinery (exact integer NLL, per-lang ntile) is the real operator.
* ``shard_export_manifest`` — deterministic training-shard assignment
  with per-shard integrity checksums, the manifest a downstream trainer
  uses to verify an export. Hash-mod sharding is engine-portable and
  rebalances nothing on re-run.
* ``epoch_shuffle_shards`` — the per-EPOCH reshuffle the static manifest
  above can't give: a fresh pseudorandom permutation of the corpus every
  epoch, derived from hash keys born in the scan (no rand(), no global
  sort), emitted as per-(epoch, shard) manifests with order witnesses.

Scale notes: every per-document score here is a scan-stage projection
(no shuffle); the only shuffles are a 256-row bucket-stats aggregate
(DSIR), cluster-keyed pair generation (SemDeDup), and a 64-row manifest
aggregate. Global rank windows run on metadata-sized outputs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.functions.embed import duck_embedding_expr
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.topk import bounded_global_order
from oracle_vector_search_spark.plans.ckpt import pin, unpin
from oracle_vector_search_spark.queries import register

# ---------------------------------------------------------------- classifier

# weight = hash28 % QC_WEIGHT_MOD - 1000 ∈ [-1000, 1000]; shared with
# the streaming admission twin via functions.text
_spark_weight_sum = T.qc_weight_sum_expr
_duck_weight_sum = T.duck_qc_weight_sum


@register(
    "quality_classifier_keep",
    f"""
WITH tok AS (
  SELECT doc_id, string_split({T.duck_norm('text')}, ' ') AS toks
  FROM documents
), scored AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         {_duck_weight_sum('toks')} AS weight_sum
  FROM tok
)
SELECT doc_id, n_tokens, weight_sum,
       round(weight_sum * 1.0 / (1000.0 * n_tokens), 6) AS mean_weight,
       CAST(CASE WHEN weight_sum > 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM scored
""",
)
def quality_classifier_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality classifier with the hashing trick: each
    token hashes to a frozen integer weight in [-1000, 1000]; the doc
    logit is the mean weight and keep = logit > 0.

    The integer weight-sum is order-independent (BIGINT adds), so the
    Spark shuffle-free scan projection and the DuckDB twin agree
    exactly. At 100 TB this is a pure map stage — the classifier runs
    in the scan, no shuffle, no Python.
    """
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("norm", T.norm_text("text")).withColumn(
        "toks", F.split("norm", " ")
    )
    w = F.expr(_spark_weight_sum("toks")).alias("weight_sum")
    return (
        d.select("doc_id", F.size("toks").alias("n_tokens"), w)
        .withColumn(
            "mean_weight",
            F.round(
                F.col("weight_sum") * 1.0 / (1000.0 * F.col("n_tokens")), 6
            ),
        )
        .withColumn(
            "keep",
            F.when(F.col("weight_sum") > 0, 1).otherwise(0).cast("int"),
        )
    )


# --------------------------------------------------------------------- DSIR

_DSIR_BUCKETS = 256
_DSIR_FRAC_PCT = 20  # select top 20% by importance


def _spark_feats(toks: str) -> str:
    """Word unigrams + bigrams, with multiplicity (hashed n-gram
    features per the DSIR paper, n ≤ 2)."""
    return (
        f"concat({toks}, CASE WHEN size({toks}) < 2 "
        f"THEN array() "
        f"ELSE transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), '_', "
        f"element_at({toks}, i + 1))) END)"
    )


def _duck_feats(toks: str) -> str:
    return (
        f"list_concat({toks}, CASE WHEN len({toks}) < 2 "
        f"THEN []::VARCHAR[] "
        f"ELSE [{toks}[i] || '_' || {toks}[i+1] "
        f"for i in range(1, len({toks}))] END)"
    )


@register(
    "dsir_importance_select",
    f"""
WITH tok AS (
  SELECT doc_id, lang, string_split({T.duck_norm('text')}, ' ') AS toks
  FROM documents
), feat AS (
  SELECT doc_id, lang,
         unnest({_duck_feats('toks')}) AS f
  FROM tok
), bucketed AS (
  SELECT doc_id, lang,
         {T.duck_hash28("'dsir:' || f")} % {_DSIR_BUCKETS} AS b
  FROM feat
), stats AS (
  SELECT b,
         CAST(count(*) AS BIGINT) AS r_b,
         CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS t_b
  FROM bucketed GROUP BY b
), totals AS (
  SELECT CAST(sum(r_b) AS BIGINT) AS r_tot,
         CAST(sum(t_b) AS BIGINT) AS t_tot
  FROM stats
), contrib AS (
  SELECT x.doc_id,
         ((s.t_b + 1) * (tt.r_tot + {_DSIR_BUCKETS}) * 1000000)
           // ((s.r_b + 1) * (tt.t_tot + {_DSIR_BUCKETS})) AS c
  FROM bucketed x JOIN stats s USING (b) CROSS JOIN totals tt
), per_doc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS score_micro_sum,
         CAST(count(*) AS BIGINT) AS n_feats
  FROM contrib GROUP BY doc_id
), ranked AS (
  SELECT doc_id, n_feats,
         score_micro_sum // n_feats AS avg_micro,
         row_number() OVER (
           ORDER BY score_micro_sum // n_feats DESC, doc_id) AS rnk,
         count(*) OVER () AS n_docs
  FROM per_doc
)
SELECT doc_id, n_feats, avg_micro,
       CAST(CASE WHEN rnk <= CAST(ceil(n_docs * {_DSIR_FRAC_PCT} / 100.0)
                                  AS BIGINT)
                 THEN 1 ELSE 0 END AS INTEGER) AS selected
FROM ranked
""",
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023): importance-resample the raw corpus
    toward a target domain (here lang='en') using hashed unigram+bigram
    bucket counts.

    Importance is computed in exact integer micro-units —
    ``(t_b+1)(R+B)·10⁶ div (r_b+1)(T+B)`` per feature, integer-summed
    per doc — no log/exp, so the result is independent of summation
    order and engine libm. At 100 TB: feature hashing is a scan
    projection; the bucket-stats table is 256 rows (broadcast back);
    the only per-doc shuffle is the groupBy(doc_id) integer sum. The
    final selection rank runs over doc-count-sized metadata, and at
    extreme scale the cutoff would be a persisted quantile instead.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.split(T.norm_text("text"), " ").alias("toks"),
    )
    feats = tok.select(
        "doc_id",
        "lang",
        F.explode(F.expr(_spark_feats("toks"))).alias("f"),
    )
    bucketed = feats.select(
        "doc_id",
        "lang",
        (F.expr(T.hash28_sql("concat('dsir:', f)")) % _DSIR_BUCKETS).alias(
            "b"
        ),
    )
    # OPTIMIZATION r15 (guide §2.4/§5): stats feeds both the totals
    # rollup and the scoring broadcast — unpinned, the corpus
    # tokenize + feature-explode subtree replayed per consumer (three
    # corpus passes; measured 115 ops / 16 exchanges). The bucket
    # table is _DSIR_BUCKETS-bounded at any scale; pin it and the run
    # is the designed two passes (train stats + scoring probe).
    stats = pin(
        bucketed.groupBy("b").agg(
            F.count("*").alias("r_b"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("bigint")
            .alias("t_b"),
        ),
    )
    totals = stats.agg(
        F.sum("r_b").alias("r_tot"), F.sum("t_b").alias("t_tot")
    )
    enriched = F.broadcast(stats).crossJoin(F.broadcast(totals))
    contrib = bucketed.join(enriched, "b").select(
        "doc_id",
        (
            (F.col("t_b") + 1)
            * (F.col("r_tot") + _DSIR_BUCKETS)
            * F.lit(1000000)
        )
        .cast("bigint")
        .alias("num"),
        ((F.col("r_b") + 1) * (F.col("t_tot") + _DSIR_BUCKETS))
        .cast("bigint")
        .alias("den"),
    )
    per_doc = (
        contrib.select("doc_id", F.expr("num div den").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("score_micro_sum"),
            F.count("*").alias("n_feats"),
        )
    )
    scored = per_doc.select(
        "doc_id",
        "n_feats",
        F.expr("score_micro_sum div n_feats").alias("avg_micro"),
    )
    # Two-phase exact top-fraction selection — NO global single-task
    # row_number over the corpus (the pattern that dies at 10⁹ docs):
    # phase 1 ranks DISTINCT integer scores (metadata-sized — bounded
    # by score cardinality, not doc count) to find the boundary score
    # and its quota; phase 2 ranks by doc_id only WITHIN each score
    # group (parallel across groups). Semantics are identical to
    # rank(avg_micro desc, doc_id) ≤ ceil(frac·n) — the oracle's form.
    counts = scored.groupBy("avg_micro").agg(F.count("*").alias("c"))
    # bounded_global_order: input is DISTINCT integer scores —
    # cardinality capped by the score range, never by doc count
    wv = (
        bounded_global_order(
            counts,
            F.desc("avg_micro"),
            bound="distinct integer scores — score-range-capped",
            max_rows=100_000,
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    counts = counts.withColumn("cum", F.sum("c").over(wv)).withColumn(
        "cum_before", F.col("cum") - F.col("c")
    )
    total = scored.agg(F.count("*").alias("n_docs"))
    cut = (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "cutoff_n",
            F.ceil(F.col("n_docs") * _DSIR_FRAC_PCT / 100.0).cast(
                "bigint"
            ),
        )
        .filter(F.col("cum_before") < F.col("cutoff_n"))
        .agg(
            F.min("avg_micro").alias("boundary_score"),
            # cum_before grows as scores descend, so the boundary
            # (lowest kept) group's remaining quota is the MINIMUM of
            # cutoff_n - cum_before over kept rows
            F.min(F.col("cutoff_n") - F.col("cum_before")).alias(
                "boundary_quota"
            ),
        )
    )
    wg = Window.partitionBy("avg_micro").orderBy(F.asc("doc_id"))
    return (
        scored.withColumn("gr", F.row_number().over(wg))
        .crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "n_feats",
            "avg_micro",
            F.when(
                (F.col("avg_micro") > F.col("boundary_score"))
                | (
                    (F.col("avg_micro") == F.col("boundary_score"))
                    & (F.col("gr") <= F.col("boundary_quota"))
                ),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("selected"),
        )
    )


# ----------------------------------------------------------------- SemDeDup

_SEM_TAU = 0.5  # in-cluster cosine at/above this → near-duplicate
_SEM_SEED_STRIDE = 31  # same frozen-seed rule as the IVF index


@register(
    "semantic_dedup_keep",
    f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), seeds AS (
  SELECT vec_id AS seed_id, v AS sv FROM vecs
  WHERE vec_id % {_SEM_SEED_STRIDE} = 0
), assigned AS (
  SELECT vec_id, seed_id AS cluster_id
  FROM (SELECT x.vec_id, s.seed_id,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 round(list_dot_product(x.v, s.sv)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(s.sv, s.sv))), 6) DESC,
                 s.seed_id) AS rn
        FROM vecs x CROSS JOIN seeds s)
  WHERE rn = 1
), dup AS (
  SELECT b.vec_id,
         max(round(list_dot_product(x.v, y.v)
                   / (sqrt(list_dot_product(x.v, x.v))
                      * sqrt(list_dot_product(y.v, y.v))), 6))
           AS max_prior_score
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN vecs x ON x.vec_id = a.vec_id
  JOIN vecs y ON y.vec_id = b.vec_id
  GROUP BY b.vec_id
)
SELECT m.vec_id, m.cluster_id,
       round(coalesce(d.max_prior_score, -1.0), 6) AS max_prior_score,
       CAST(CASE WHEN coalesce(d.max_prior_score, -1.0) >= {_SEM_TAU}
                 THEN 0 ELSE 1 END AS INTEGER) AS kept
FROM assigned m LEFT JOIN dup d USING (vec_id)
""",
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-cosine near-dup removal
    made scale-feasible by cluster partitioning. Vectors are assigned
    to frozen seed centroids (the IVF assignment — same stride, same
    tie rule), then a vector is dropped iff some LOWER-id vector in the
    SAME cluster has cosine ≥ τ with it (keep-first rule).

    Pairs are generated per cluster — Σ|cluster|² work, corpus² never
    materializes — and at 100 TB the assignment is the already-written
    IVF at-rest table, so dedup reads cluster-partitioned parquet and
    each cluster's pair-join is partition-local.
    """
    from oracle_vector_search_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )
    from oracle_vector_search_spark.queries.ann_queries import (
        _ivf_assign_table,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    # OPTIMIZATION r16 (guide §2.4): the assignment was computed INLINE
    # (corpus × seeds crossJoin + per-vector window) and consumed three
    # ways (members' a-side, b-side, and the final left join) — Catalyst
    # replayed the full scoring crossJoin per consumer. The docstring's
    # declared design ("at 100 TB the assignment is the already-written
    # IVF at-rest table") is now the code: _ivf_assign_table IS
    # ann.ivf_assign at the SAME stride (_SEM_SEED_STRIDE == SEED_STRIDE
    # == 31, checked below) and the same lowest-seed tie rule, so the
    # rows are identical and the warm path reads cluster-partitioned
    # parquet instead of re-scoring the corpus 3×.
    from oracle_vector_search_spark.operators.ann import SEED_STRIDE

    if _SEM_SEED_STRIDE != SEED_STRIDE:
        raise RuntimeError(
            "semantic_dedup_keep assumes the shared at-rest IVF "
            "assignment; if _SEM_SEED_STRIDE diverges from "
            "ann.SEED_STRIDE, revert to inline ivf_assign(emb, "
            "vec_col='v', seed_stride=_SEM_SEED_STRIDE)"
        )
    assigned = _ivf_assign_table(spark, sf_dir)
    members = assigned.join(emb, "vec_id").select(
        "vec_id", "cluster_id", "v"
    )
    a = members.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("prior_id"),
        F.col("v").alias("pv"),
    )
    b = members.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("vec_id"),
        F.col("v").alias("bv"),
    )
    dup = (
        a.join(b, ["cluster_id"])
        .filter(F.col("prior_id") < F.col("vec_id"))
        .select(
            "vec_id",
            F.round(cosine_similarity("pv", "bv"), 6).alias("s"),
        )
        .groupBy("vec_id")
        .agg(F.max("s").alias("max_prior_score"))
    )
    return (
        assigned.join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.round(
                F.coalesce(F.col("max_prior_score"), F.lit(-1.0)), 6
            ).alias("max_prior_score"),
            F.when(
                F.coalesce(F.col("max_prior_score"), F.lit(-1.0))
                >= _SEM_TAU,
                0,
            )
            .otherwise(1)
            .cast("int")
            .alias("kept"),
        )
    )


# ------------------------------------------------ weighted order sampling

_SPS_K = 10  # sample size per stratum


@register(
    "sequential_poisson_sample",
    f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         CAST({T.duck_hash28("'sps:' || doc_id::VARCHAR")} AS DOUBLE)
           / n_chars AS rank_key
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT doc_id, lang, n_chars, round(rank_key, 6) AS rank_key,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY rank_key ASC, doc_id)
              AS INTEGER) AS rnk
  FROM keyed
)
SELECT doc_id, lang, n_chars, rank_key, rnk
FROM ranked WHERE rnk <= {_SPS_K}
""",
)
def sequential_poisson_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement by sequential Poisson /
    order sampling (Ohlsson 1998; the priority-sampling family of
    Duffield et al.): each document gets rank u/w — u a fixed-hash
    uniform, w its weight (n_chars) — and the k SMALLEST ranks per
    stratum form a probability-proportional-to-size sample.

    Engine-portability: u and w are exact integers and IEEE division
    is correctly rounded, so rank keys are bit-identical across
    engines — no rand(), no pow/log (whose libm results differ). At
    scale this is one scan projection + a per-stratum top-k
    (WindowGroupLimit prunes below the shuffle); re-runs and engine
    migrations reproduce the same sample.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = F.expr(T.hash28_sql("concat('sps:', cast(doc_id as string))"))
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (u.cast("double") / F.col("n_chars")).alias("rank_key"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc("rank_key"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SPS_K)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round("rank_key", 6).alias("rank_key"),
            "rnk",
        )
    )


# ----------------------------------------- A-ES weighted reservoir sampling

_AES_K = 8  # reservoir size per stratum (source)
# integer weight tiers from document length; lcm(1..4) = 12 lets the
# A-ES key u^(1/w) be ranked through the EXACT monotone transform
# x -> x^12: u^(12/w) has an integer exponent per tier, computed as a
# fixed-association product of IEEE-exact multiplications — no
# libm pow/log whose last-ulp results differ across engines
_AES_W_DIV = 139  # n_chars // 139 -> all four tiers live at fixtures
# u^(12/w) per weight tier, as a SQL CASE shared VERBATIM by both
# engines (same text -> same association -> bit-identical doubles)
_AES_KEY_CASE = """CASE w
  WHEN 1 THEN ((((u*u)*u) * ((u*u)*u)) * (((u*u)*u) * ((u*u)*u)))
  WHEN 2 THEN (((u*u)*u) * ((u*u)*u))
  WHEN 3 THEN (((u*u)*u) * u)
  ELSE ((u*u)*u)
END"""


# shared by the batch sampler AND its streaming reservoir twin
# (streaming_weighted_reservoir): the drained reservoir must equal the
# batch selection exactly, so both check against the same oracle
_AES_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, source,
         CAST(1 + least(3, n_chars // {_AES_W_DIV}) AS INTEGER) AS w,
         (CAST({T.duck_hash28("'aes:' || doc_id::VARCHAR")} AS DOUBLE)
            + 1e0) / 268435456e0 AS u
  FROM documents WHERE n_chars > 0
), scored AS (
  SELECT doc_id, source, w, {_AES_KEY_CASE} AS aes_key
  FROM keyed
), ranked AS (
  SELECT doc_id, source, w, round(aes_key, 6) AS aes_key,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY aes_key DESC, doc_id)
              AS INTEGER) AS rnk
  FROM scored
)
SELECT doc_id, source, w, aes_key, rnk
FROM ranked WHERE rnk <= {_AES_K}
"""


def aes_keyed_docs(d: DataFrame) -> DataFrame:
    """(doc_id, source, w, aes_key) with FULL-precision keys — the
    scan-stage A-ES projection shared by the batch sampler and the
    streaming reservoir twin (selection must rank the unrounded key;
    rounding happens only at output)."""
    keyed = d.filter(F.col("n_chars") > 0).select(
        "doc_id",
        "source",
        (
            F.lit(1)
            + F.least(F.lit(3), F.expr(f"n_chars div {_AES_W_DIV}"))
        )
        .cast("int")
        .alias("w"),
        F.expr(
            "(cast("
            + T.hash28_sql("concat('aes:', cast(doc_id as string))")
            + " as double) + 1e0) / 268435456e0"
        ).alias("u"),
    )
    return keyed.select(
        "doc_id", "source", "w", F.expr(_AES_KEY_CASE).alias("aes_key")
    )


@register("weighted_reservoir_sample_aes", _AES_ORACLE)
def weighted_reservoir_sample_aes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted reservoir sampling without replacement by the
    Efraimidis–Spirakis A-ES scheme (2006): each document draws key
    u^(1/w) — u a fixed-hash uniform in (0, 1], w its integer weight
    tier — and the k LARGEST keys per stratum (source) form the
    reservoir. Complements ``sequential_poisson_sample`` (rank u/w,
    the Ohlsson order-sampling family): A-ES is the scheme whose
    inclusion process equals a sequential weighted draw without
    replacement, the one a streaming reservoir maintains one item at
    a time.

    Engine-portability: libm ``pow``/``log`` differ across engines in
    the last ulp, so the key is ranked through the exact monotone
    transform x -> x^12 (lcm of the weight tiers 1..4): u^(12/w) has
    an integer exponent per tier and is computed as a FIXED-
    ASSOCIATION product of IEEE multiplications shared verbatim by
    both engines — selection is bit-exact, not approximately equal.
    At scale: one scan projection (hash + CASE of products), one
    per-stratum top-k (WindowGroupLimit prunes below the shuffle);
    re-runs reproduce the same sample, and the streaming twin
    (``streaming_weighted_reservoir``) maintains the k largest keys
    per stratum in bounded state against the SAME oracle."""
    scored = aes_keyed_docs(load_table(spark, sf_dir, "documents"))
    win = Window.partitionBy("source").orderBy(
        F.desc("aes_key"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= _AES_K)
        .select(
            "doc_id",
            "source",
            "w",
            F.round("aes_key", 6).alias("aes_key"),
            "rnk",
        )
    )


# ------------------------------------------------------- perplexity buckets

_LM_MOD = 5000  # stub unigram NLL in micro-units: hash28 % 5000


@register(
    "lm_perplexity_buckets",
    f"""
WITH tok AS (
  SELECT doc_id, lang, string_split({T.duck_norm('text')}, ' ') AS toks
  FROM documents
), nll AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(list_sum([{T.duck_hash28("'lm:' || t")} % {_LM_MOD}
                        for t in toks]) AS BIGINT) AS nll_sum
  FROM tok
), scored AS (
  SELECT doc_id, lang, n_tokens,
         (nll_sum * 1000) // n_tokens AS ppl_micro
  FROM nll
)
SELECT doc_id, lang, n_tokens, ppl_micro,
       CASE ntile(3) OVER (PARTITION BY lang
                           ORDER BY ppl_micro ASC, doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM scored
""",
)
def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split (Wenzek et al. 2020):
    per-language perplexity terciles under a frozen language model. The
    LM here is a deterministic hash stub (a real pipeline plugs a
    KenLM/torch scorer into the same integer-NLL column); everything
    downstream — exact integer NLL normalization, per-language ntile —
    is the real operator.

    Scale: NLL is a scan projection; the tercile window shuffles on
    lang only (bounded key count). A 100 TB run replaces ntile with
    persisted per-lang quantile cutpoints, same result shape.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.split(T.norm_text("text"), " ").alias("toks"),
    )
    h = T.hash28_sql("concat('lm:', t)")
    nll = tok.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        F.expr(
            f"aggregate(toks, cast(0 as bigint), "
            f"(a, t) -> a + {h} % {_LM_MOD})"
        ).alias("nll_sum"),
    )
    scored = nll.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("(nll_sum * 1000) div n_tokens").alias("ppl_micro"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc("ppl_micro"), F.asc("doc_id")
    )
    return scored.withColumn(
        "bucket",
        F.when(F.ntile(3).over(w) == 1, "head")
        .when(F.ntile(3).over(w) == 2, "middle")
        .otherwise("tail"),
    )


# ------------------------------------------- end-to-end curated corpus


def _duck_kept_subquery() -> str:
    """Parenthesized DuckDB subquery: documents surviving the quality
    classifier (the corpus the dedup cascade then runs over)."""
    toks = f"string_split({T.duck_norm('text')}, ' ')"
    return (
        f"(SELECT doc_id, text FROM ("
        f"SELECT doc_id, text, {_duck_weight_sum(toks)} AS ws "
        f"FROM documents) WHERE ws > 0)"
    )


def _curated_oracle() -> str:
    from oracle_vector_search_spark.queries.dedup_queries import (
        _duck_cluster_sql,
    )

    cluster = _duck_cluster_sql(3, base=_duck_kept_subquery())
    return f"""
WITH canon AS ({cluster}),
final AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN canon c ON c.doc_id = d.doc_id AND c.canonical_id = d.doc_id
)
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs_in,
       CAST((SELECT count(*) FROM canon) AS BIGINT) AS n_classifier_kept,
       CAST(count(*) AS BIGINT) AS n_final,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       CAST(sum(length(text)) AS BIGINT) AS bytes_total,
       bit_xor({T.duck_hash60("doc_id::VARCHAR || ':' || md5(text)")})
         AS content_checksum
FROM final
"""


@register("curated_corpus_checksum", _curated_oracle())
def curated_corpus_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation statement, composed as ONE lazy plan: quality
    classifier gate → MinHash-LSH near-dup cascade over the SURVIVORS
    only → canonical-representative filter → checksummed cleaned
    corpus. This is the artifact a training run consumes; the checksum
    proves the composed pipeline (not just each stage) is engine-exact.

    At-scale shape: the classifier is a scan-stage predicate; MinHash
    signatures come from the at-rest signature table SEMI-JOINED down
    to survivors (signatures are computed once at ingest — a filter
    never re-hashes); the component rounds and canonical filter shuffle
    ids only. Output is one audit row.
    """
    from oracle_vector_search_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_dup,
    )
    from oracle_vector_search_spark.queries.dedup_queries import (
        MINHASH_THRESHOLD,
        _minhash_sig_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(T.norm_text("text"), " ")
    kept = (
        docs.withColumn("toks", toks)
        .withColumn("ws", F.expr(_spark_weight_sum("toks")))
        .filter(F.col("ws") > 0)
        .select("doc_id", "text")
    )
    # OPTIMIZATION r16 (guide §2.4/§5): the classifier-survivor ID SET
    # is consumed by the signature semi-join (whose keyed output the
    # LSH band/shingle joins then replay ~4×) AND as the cluster
    # all_ids — unpinned, the documents tokenize + weight-sum scan
    # re-ran per consumer (the stage-2 residual VERDICT r15 flagged:
    # 241-op census pre-dedup-fix). Pinning the id-sized survivor set
    # leaves exactly ONE gate scan per run; the at-rest signature
    # table replays stay cheap pruned reads (the by-design shape).
    kept_ids = pin(kept.select("doc_id"))
    sigs = _minhash_sig_table(spark, sf_dir).join(
        kept_ids, "doc_id", "left_semi"
    )
    pairs = minhash_near_dup(kept, threshold=MINHASH_THRESHOLD, sigs=sigs)
    labels = dedup_clusters(
        pairs,
        kept_ids,
        iterations=3,
    )
    final = docs.join(
        labels.filter(F.col("doc_id") == F.col("canonical_id")).select(
            "doc_id"
        ),
        "doc_id",
    )
    n_in = docs.agg(F.count("*").alias("n_docs_in"))
    n_kept = labels.agg(F.count("*").alias("n_classifier_kept"))
    h = T.hash60_sql(
        "concat(cast(doc_id as string), ':', md5(cast(text as binary)))"
    )
    return (
        final.agg(
            F.count("*").alias("n_final"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum(F.length("text")).cast("bigint").alias("bytes_total"),
            F.expr(f"bit_xor({h})").alias("content_checksum"),
        )
        .crossJoin(F.broadcast(n_in))
        .crossJoin(F.broadcast(n_kept))
        .select(
            "n_docs_in",
            "n_classifier_kept",
            "n_final",
            "id_checksum",
            "bytes_total",
            "content_checksum",
        )
    )


# ------------------------------------------------- incremental admission


def _admission_oracle() -> str:
    from oracle_vector_search_spark.queries.dedup_queries import (
        MINHASH_THRESHOLD,
        _duck_minhash_bands,
        _duck_sig_cte,
    )

    return f"""
WITH {_duck_sig_cte('documents')},
bands AS ({_duck_minhash_bands()}),
cand AS (
  SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS standing_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
), dup AS (
  SELECT c.batch_id, CAST(min(c.standing_id) AS BIGINT) AS dup_of
  FROM cand c
  JOIN sig s1 ON s1.doc_id = c.batch_id
  JOIN sig s2 ON s2.doc_id = c.standing_id
  WHERE round(len(list_intersect(s1.shingles, s2.shingles)) * 1.0
              / len(list_distinct(list_concat(s1.shingles, s2.shingles))),
              6) >= {MINHASH_THRESHOLD}
  GROUP BY c.batch_id
), gate AS (
  SELECT doc_id, {_duck_weight_sum('toks')} AS ws
  FROM tok WHERE doc_id % 7 = 0
)
SELECT g.doc_id,
       CAST(CASE WHEN g.ws > 0 THEN 1 ELSE 0 END AS INTEGER)
         AS classifier_keep,
       coalesce(d.dup_of, -1) AS dup_of,
       CAST(CASE WHEN g.ws > 0 AND d.dup_of IS NULL THEN 1 ELSE 0 END
            AS INTEGER) AS admitted
FROM gate g LEFT JOIN dup d ON d.batch_id = g.doc_id
"""


@register("incremental_corpus_admission", _admission_oracle())
def incremental_corpus_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous-crawl admission: an incoming batch (doc_id % 7 = 0)
    is quality-gated and near-dup-checked against the STANDING corpus
    only, producing per-document admit/reject decisions with the
    blocking duplicate identified.

    The scale shape (``operators.dedup.minhash_near_dup_against``):
    the standing side reads its at-rest signature table (never
    re-hashed), batch work is proportional to the batch, and the
    directional band join meets only standing docs sharing a bucket —
    batch × corpus never materializes. This is the admission control a
    100 TB pipeline runs on every crawl increment.
    """
    from oracle_vector_search_spark.operators.dedup import (
        minhash_near_dup_against,
    )
    from oracle_vector_search_spark.queries.dedup_queries import (
        MINHASH_THRESHOLD,
        _minhash_sig_table,
    )

    sig = _minhash_sig_table(spark, sf_dir)
    batch_sigs = sig.filter(F.col("doc_id") % 7 == 0)
    standing_sigs = sig.filter(F.col("doc_id") % 7 != 0)
    pairs = minhash_near_dup_against(
        batch_sigs, standing_sigs, threshold=MINHASH_THRESHOLD
    )
    dup = pairs.groupBy("batch_id").agg(
        F.min("standing_id").cast("bigint").alias("dup_of")
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    gate = (
        docs.withColumn("toks", F.split(T.norm_text("text"), " "))
        .withColumn("ws", F.expr(_spark_weight_sum("toks")))
        .select("doc_id", "ws")
    )
    return gate.join(
        dup, gate.doc_id == dup.batch_id, "left"
    ).select(
        "doc_id",
        F.when(F.col("ws") > 0, 1).otherwise(0).cast("int").alias(
            "classifier_keep"
        ),
        F.coalesce(F.col("dup_of"), F.lit(-1)).alias("dup_of"),
        F.when(
            (F.col("ws") > 0) & F.col("dup_of").isNull(), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("admitted"),
    )


# ------------------------------------------------- multimodal frame audit

_FRAME_STRIDE = 32  # bytes between frame starts
_FRAME_SIZE = 16  # bytes per sampled frame


@register(
    "media_frame_manifest",
    f"""
WITH blobs AS (
  SELECT doc_id, text
  FROM documents
  WHERE regexp_matches(text, '^[ -~]*$') AND length(text) >= {_FRAME_SIZE}
), frames AS (
  SELECT doc_id,
         unnest([{{'fi': i,
                   'h': md5(substr(text, i * {_FRAME_STRIDE} + 1,
                                   {_FRAME_SIZE}))}}
                 FOR i IN range(0, (length(text) - {_FRAME_SIZE})
                                   // {_FRAME_STRIDE} + 1)]) AS u
  FROM blobs
)
SELECT doc_id,
       CAST(u.fi AS INTEGER) AS frame_idx,
       CAST(u.fi * {_FRAME_STRIDE} AS BIGINT) AS byte_offset,
       u.h AS frame_md5
FROM frames
""",
)
def media_frame_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing, oracle-checked: documents
    become opaque BINARY blobs, an Arrow ``mapInPandas`` stage samples
    fixed-stride "frames" (the video frame-sample batch shape of
    ``sources.media.video_frame_sample`` — 1 row in, N frame rows out)
    and emits a per-frame manifest (index, byte offset, md5).

    The corpus is ASCII-guarded so byte offsets equal character
    offsets, which is what lets DuckDB replay the byte slicing with
    ``substr`` — making the UDF's batch handling (schema, Arrow binary
    transfer, 1→N expansion) value-checkable, not just smoke-tested.
    Real codec decode stays in sources.media behind optional deps; the
    Spark-side shape is identical.
    """
    from collections.abc import Iterator

    import hashlib

    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.col("text").rlike("^[ -~]*$")
            & (F.length("text") >= _FRAME_SIZE)
        )
        .select("doc_id", F.col("text").cast("binary").alias("content"))
    )

    out_schema = (
        "doc_id long, frame_idx int, byte_offset long, frame_md5 string"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, blob in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(blob)
                n_frames = (len(b) - _FRAME_SIZE) // _FRAME_STRIDE + 1
                for i in range(n_frames):
                    off = i * _FRAME_STRIDE
                    rows.append(
                        {
                            "doc_id": did,
                            "frame_idx": i,
                            "byte_offset": off,
                            "frame_md5": hashlib.md5(
                                b[off : off + _FRAME_SIZE]
                            ).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "byte_offset", "frame_md5",
                ],
            )

    return docs.mapInPandas(batches, schema=out_schema)


# ------------------------------------------------------------ shard export

_N_SHARDS = 64


@register(
    "shard_export_manifest",
    f"""
WITH sharded AS (
  SELECT {T.duck_hash28("'shard:' || doc_id::VARCHAR")} % {_N_SHARDS}
           AS shard_id,
         doc_id,
         CAST(length(text) AS BIGINT) AS n_bytes,
         {T.duck_hash60("doc_id::VARCHAR || ':' || md5(text)")} AS h
  FROM documents
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id,
       bit_xor(h) AS content_checksum
FROM sharded GROUP BY shard_id
""",
)
def shard_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard manifest: hash-mod shard
    assignment plus the per-shard integrity facts a trainer checks
    before consuming an export — doc count, byte volume, id range, and
    an order-independent XOR content checksum.

    Hash-mod sharding is reproducible across engines and re-runs (no
    rand(), no partition-order dependence); XOR makes the checksum
    insensitive to row order, so a re-export that shuffles rows but
    preserves content verifies equal. At 100 TB the same expression is
    the ``partitionBy`` column of the parquet writer and this query is
    its audit.
    """
    d = load_table(spark, sf_dir, "documents")
    sharded = d.select(
        (
            F.expr(T.hash28_sql("concat('shard:', cast(doc_id as string))"))
            % _N_SHARDS
        ).alias("shard_id"),
        "doc_id",
        F.length("text").cast("bigint").alias("n_bytes"),
        F.expr(
            T.hash60_sql(
                "concat(cast(doc_id as string), ':', md5(cast(text as binary)))"
            )
        ).alias("h"),
    )
    return sharded.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.expr("bit_xor(h)").alias("content_checksum"),
    )


_N_EPOCHS = 3
_N_EPOCH_SHARDS = 16


@register(
    "epoch_shuffle_shards",
    f"""
WITH epochs AS (
  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_bytes, e.epoch
  FROM documents d
  CROSS JOIN (SELECT unnest(range(0, {_N_EPOCHS})) AS epoch) e
), keyed AS (
  SELECT CAST(epoch AS INTEGER) AS epoch, doc_id, n_bytes,
         {T.duck_hash60("'ep:' || epoch::VARCHAR || ':' || doc_id::VARCHAR")}
           AS k
  FROM epochs
), sharded AS (
  SELECT epoch, CAST(k % {_N_EPOCH_SHARDS} AS INTEGER) AS shard_id,
         doc_id, n_bytes, k
  FROM keyed
)
SELECT epoch, shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       min_by(doc_id, k) AS first_doc_id,
       max_by(doc_id, k) AS last_doc_id,
       bit_xor(k) AS shuffle_checksum
FROM sharded GROUP BY epoch, shard_id
""",
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus reshuffle (the multi-epoch twin of
    ``shard_export_manifest``): every epoch gets a FRESH pseudorandom
    permutation — key = hash60('ep:' epoch ':' doc_id) — so repeated
    passes over the same corpus see different shard compositions and
    different within-shard orders, reproducibly (no ``rand()``, no
    partition-order dependence, re-runs bit-identical).

    Emitted as per-(epoch, shard) manifests: doc/byte volume, the first
    and last doc in shuffle-key order (``min_by``/``max_by`` — the order
    witnesses a trainer can spot-check), and an order-independent XOR of
    the keys (the checksum that proves two exports saw the same
    permutation without comparing row order).

    Scale: the key is born in the scan projection; the epoch explode is
    a scan-stage ``Generate`` (rows × n_epochs never materializes at
    rest); the ONLY shuffle is the (epoch, shard) group-by, and partial
    aggregation collapses each task to ≤ epochs × shards rows before it
    moves. At 100 TB the same key expression is the writer's
    ``repartition(epoch, shard_id)`` + ``sortWithinPartitions(k)`` and
    this query is its audit — no global sort anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    e = d.select(
        "doc_id", F.length("text").cast("bigint").alias("n_bytes")
    ).withColumn(
        "epoch", F.explode(F.sequence(F.lit(0), F.lit(_N_EPOCHS - 1)))
    )
    keyed = e.select(
        F.col("epoch").cast("int").alias("epoch"),
        "doc_id",
        "n_bytes",
        F.expr(
            T.hash60_sql(
                "concat('ep:', cast(epoch as string), ':', "
                "cast(doc_id as string))"
            )
        ).alias("k"),
    ).withColumn("shard_id", (F.col("k") % _N_EPOCH_SHARDS).cast("int"))
    return keyed.groupBy("epoch", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.expr("min_by(doc_id, k)").alias("first_doc_id"),
        F.expr("max_by(doc_id, k)").alias("last_doc_id"),
        F.expr("bit_xor(k)").alias("shuffle_checksum"),
    )


# --------------------------------------- nightly build, end to end (r13)


def _nightly_oracle() -> str:
    from oracle_vector_search_spark.queries.dedup_queries import (
        _duck_cluster_sql,
    )
    from oracle_vector_search_spark.queries.training_queries import (
        _MIX_DUCK_W,
    )

    cluster = _duck_cluster_sql(3, base=_duck_kept_subquery())
    mix_h = T.duck_hash28("'mix:' || doc_id::VARCHAR")
    ep_h = T.duck_hash60("'ep:' || epoch::VARCHAR || ':' || doc_id::VARCHAR")
    return f"""
WITH canon AS ({cluster}),
corpus AS (
  SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_bytes
  FROM documents d
  JOIN canon c ON c.doc_id = d.doc_id AND c.canonical_id = d.doc_id
), counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM corpus GROUP BY lang
), w AS ({_MIX_DUCK_W}),
j AS (
  SELECT c.lang, c.n_docs, w.target_share,
         c.n_docs / w.target_share AS cap
  FROM counts c JOIN w USING (lang)
), b AS (SELECT min(cap) AS budget FROM j),
rates AS (
  SELECT lang,
         (CAST(floor(target_share * budget) AS BIGINT) * 1000000)
           // n_docs AS rate_ppm
  FROM j CROSS JOIN b
), sel AS (
  SELECT c.doc_id, c.n_bytes
  FROM corpus c JOIN rates r USING (lang)
  WHERE ({mix_h}) % 1000000 < r.rate_ppm
), epochs AS (
  SELECT s.doc_id, s.n_bytes, e.epoch
  FROM sel s
  CROSS JOIN (SELECT unnest(range(0, {_N_EPOCHS})) AS epoch) e
), keyed AS (
  SELECT CAST(epoch AS INTEGER) AS epoch, doc_id, n_bytes,
         {ep_h} AS k
  FROM epochs
), sharded AS (
  SELECT epoch, CAST(k % {_N_EPOCH_SHARDS} AS INTEGER) AS shard_id,
         doc_id, n_bytes, k
  FROM keyed
)
SELECT epoch, shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       min_by(doc_id, k) AS first_doc_id,
       max_by(doc_id, k) AS last_doc_id,
       bit_xor(k) AS shuffle_checksum
FROM sharded GROUP BY epoch, shard_id
"""


@register("nightly_corpus_build_manifest", _nightly_oracle())
def nightly_corpus_build_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The nightly training-data build told ONCE, as a single lazy
    plan (VERDICT r12 #4): raw documents → quality-classifier gate →
    MinHash-LSH near-dup cascade over the survivors → canonical
    representatives → DoReMi-style language-mixture selection (integer
    ppm rates derived from the DEDUPED corpus) → deterministic
    per-epoch reshuffle → per-(epoch, shard) export manifests. The
    driver hash-checks the FINAL manifest, which transitively pins
    every upstream stage — the composed pipeline, not just each piece,
    is engine-exact.

    Composition reuses the exact stage kernels the standalone queries
    check: the gate/dedup chain of ``curated_corpus_checksum``, the
    rate algebra of ``domain_mixture_rates`` (made integer: rate_ppm =
    take_n·10⁶ div n_docs so no float ever decides membership), the
    hash-predicate selection of ``stratified_sample_rates``, and the
    epoch/shard key of ``epoch_shuffle_shards``.

    Scale shape: the classifier is a scan-stage predicate; signatures
    come from the at-rest table semi-joined to survivors; the cluster
    rounds shuffle ids only. The SURVIVOR ID SET — the one subtree two
    consumers need (mixture counts AND the final rows) — is pinned via
    an id-sized localCheckpoint, so adding the mixture/shuffle
    stages costs ONE extra documents scan (the payload re-read), not a
    re-derivation of the gate+dedup chain per consumer
    (tests/test_nightly_build.py pins the documents-scan count). The
    mixture rates are a |langs|-row broadcast; selection is a
    scan-stage predicate; the epoch explode is a scan-stage Generate;
    the manifest is one (epoch, shard) group-by with partial
    aggregation. At 100 TB the same keys drive the writer's
    ``partitionBy(epoch, shard_id)`` + ``sortWithinPartitions(k)`` and
    this query is its audit."""
    from oracle_vector_search_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_dup,
    )
    from oracle_vector_search_spark.queries.dedup_queries import (
        MINHASH_THRESHOLD,
        _minhash_sig_table,
    )
    from oracle_vector_search_spark.queries.training_queries import (
        _MIX_TARGETS,
    )

    docs = load_table(spark, sf_dir, "documents")
    # stage 1: quality gate (scan-stage predicate)
    kept = (
        docs.withColumn("toks", F.split(T.norm_text("text"), " "))
        .withColumn("ws", F.expr(_spark_weight_sum("toks")))
        .filter(F.col("ws") > 0)
        .select("doc_id", "text")
    )
    # stage 2: near-dup cascade over survivors (at-rest signatures).
    # OPTIMIZATION r16 (guide §2.4/§5): pin the id-sized survivor set —
    # same stage-2 fix as curated_corpus_checksum (the gate's tokenize +
    # weight-sum scan replayed per consumer of kept's ids).
    kept_ids = pin(kept.select("doc_id"))
    sigs = _minhash_sig_table(spark, sf_dir).join(
        kept_ids, "doc_id", "left_semi"
    )
    pairs = minhash_near_dup(kept, threshold=MINHASH_THRESHOLD, sigs=sigs)
    labels = dedup_clusters(
        pairs,
        kept_ids,
        iterations=3,
    )
    surv = pin(
        labels.filter(F.col("doc_id") == F.col("canonical_id")).select(
            "doc_id"
        ),
    )
    # `surv` re-pins everything downstream needs from the label table;
    # the cluster checkpoint has no remaining consumer — release it NOW
    # instead of holding a corpus-sized pin until the next invocation
    # (ADVICE r15). The other dedup consumers RETURN frames that
    # lazily reference their label pin, so they must keep it.
    unpin(labels)
    # kept_ids likewise has no consumer past the pinned surv/labels
    unpin(kept_ids)
    corpus = docs.join(surv, "doc_id").select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_bytes")
    )
    # stage 3: mixture rates from the DEDUPED corpus (integer ppm)
    wmap = F.create_map(
        *[F.lit(x) for pair in _MIX_TARGETS for x in pair]
    )
    # pin the |langs|-row count table: budget AND rates both consume
    # it, and without the pin each consumer re-scans the corpus
    counts = pin(corpus.groupBy("lang").agg(F.count("*").alias("n_docs")))
    j = (
        counts.select(
            "lang",
            "n_docs",
            F.element_at(wmap, F.col("lang")).alias("target_share"),
        )
        .filter(F.col("target_share").isNotNull())
        .withColumn("cap", F.col("n_docs") / F.col("target_share"))
    )
    b = j.agg(F.min("cap").alias("budget"))
    # take_n = floor(target·budget); rate_ppm = take_n·10⁶ div n_docs —
    # all-integer once floor lands, so membership never hinges on a
    # float comparison
    rates = j.crossJoin(F.broadcast(b)).selectExpr(
        "lang",
        "(floor(target_share * budget) * 1000000L) div n_docs AS rate_ppm",
    )
    # stage 4: hash-predicate selection + epoch explode + shard key
    mix_h = T.hash28_sql("concat('mix:', cast(doc_id as string))")
    sel = corpus.join(F.broadcast(rates), "lang").filter(
        F.expr(f"({mix_h}) % 1000000") < F.col("rate_ppm")
    )
    keyed = (
        sel.select("doc_id", "n_bytes")
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0), F.lit(_N_EPOCHS - 1))),
        )
        .select(
            F.col("epoch").cast("int").alias("epoch"),
            "doc_id",
            "n_bytes",
            F.expr(
                T.hash60_sql(
                    "concat('ep:', cast(epoch as string), ':', "
                    "cast(doc_id as string))"
                )
            ).alias("k"),
        )
        .withColumn("shard_id", (F.col("k") % _N_EPOCH_SHARDS).cast("int"))
    )
    # stage 5: per-(epoch, shard) manifest
    return keyed.groupBy("epoch", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.expr("min_by(doc_id, k)").alias("first_doc_id"),
        F.expr("max_by(doc_id, k)").alias("last_doc_id"),
        F.expr("bit_xor(k)").alias("shuffle_checksum"),
    )


_LR_BUDGET = 10000  # tokens to allocate across sources


@register(
    "largest_remainder_allocation",
    f"""
WITH counts AS (
  SELECT source,
         CAST(sum(len(string_split({T.duck_norm('text')}, ' ')))
              AS BIGINT) AS toks
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(toks) AS BIGINT) AS total FROM counts
), quota AS (
  SELECT c.source, c.toks,
         CAST((c.toks * {_LR_BUDGET}) // t.total AS BIGINT) AS floor_alloc,
         CAST((c.toks * {_LR_BUDGET}) % t.total AS BIGINT) AS remainder
  FROM counts c CROSS JOIN tot t
), short AS (
  SELECT CAST({_LR_BUDGET} - sum(floor_alloc) AS BIGINT) AS leftover
  FROM quota
), ranked AS (
  SELECT q.*, s.leftover,
         CAST(row_number() OVER (
           ORDER BY q.remainder DESC, q.source) AS INTEGER) AS rr
  FROM quota q CROSS JOIN short s
)
SELECT source, toks, floor_alloc,
       CAST(floor_alloc + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
ORDER BY source
""",
)
def largest_remainder_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed token
    budget across sources — the exact way to turn fractional mixture
    weights into integer per-source quotas that sum EXACTLY to the
    budget (floor everything, then hand the leftover units to the
    largest fractional remainders, source tie-break). All integer
    arithmetic: quota = (toks*B) div total, remainder = (toks*B) mod
    total — no float ever decides an allocation, so the result is
    identical on any engine and any partitioning.

    Scale: one corpus-sized aggregation (per-source token counts);
    everything after runs on the source-sized table with broadcast
    scalars. The window orders |sources| rows — metadata-sized."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            "source",
            F.size(F.split(T.norm_text("text"), " ")).alias("ntok"),
        )
        .groupBy("source")
        .agg(F.sum("ntok").alias("toks"))
    )
    tot = counts.agg(F.sum("toks").alias("total"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        F.expr(f"(toks * {_LR_BUDGET}) div total").alias("floor_alloc"),
        F.expr(f"(toks * {_LR_BUDGET}) % total").alias("remainder"),
    )
    short = quota.agg(
        (F.lit(_LR_BUDGET) - F.sum("floor_alloc")).alias("leftover")
    )
    # bounded_global_order: one row per SOURCE (a handful of domains)
    w = bounded_global_order(
        quota,
        F.desc("remainder"),
        F.asc("source"),
        bound="one row per source domain — a handful",
        max_rows=10_000,
    )
    return (
        quota.crossJoin(F.broadcast(short))
        .withColumn("rr", F.row_number().over(w).cast("int"))
        .select(
            "source",
            "toks",
            "floor_alloc",
            (
                F.col("floor_alloc")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
        .orderBy("source")
    )


# Spark-SQL text normalization, inlined into the card's projections
_CARD_NORM = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"


@register(
    "corpus_summary_card",
    f"""
WITH base AS (
  SELECT doc_id, lang, source,
         string_split({T.duck_norm('text')}, ' ') AS toks,
         {T.duck_hash60(T.duck_norm('text'))} AS content_h
  FROM documents
), per_doc AS (
  SELECT doc_id, lang, source, content_h,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN {_duck_weight_sum('toks')} > 0 THEN 1 ELSE 0 END
           AS quality_keep
  FROM base
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens,
       CAST(count(*) - count(DISTINCT content_h) AS BIGINT)
         AS n_exact_dups,
       CAST(sum(quality_keep) AS BIGINT) AS n_quality_keep
FROM per_doc
""",
)
def corpus_summary_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row "dataset card" a training-data release ships with:
    corpus size, language/source cardinalities, token totals and
    bounds, exact-duplicate count (60-bit content fingerprints — the
    ``exact_dedup_groups`` definition), and how many documents the
    frozen quality classifier keeps (the ``quality_classifier_keep``
    gate). Every number is a composition of the engine's existing
    per-doc projections, folded in ONE aggregation — the summary is
    definitionally consistent with the queries that drill into it.

    Scale: per-doc stats are scan projections; the single global
    aggregate is metadata-sized (multi-distinct handled by Catalyst's
    Expand rewrite, the ``table_stats_profile`` note)."""
    d = load_table(spark, sf_dir, "documents")
    toks = f"split({_CARD_NORM}, ' ')"
    per_doc = d.select(
        "lang",
        "source",
        F.expr(T.hash60_sql(_CARD_NORM)).alias("content_h"),
        F.size(F.expr(toks)).cast("long").alias("n_tokens"),
        F.expr(
            f"CASE WHEN {_spark_weight_sum(toks)} > 0 THEN 1 ELSE 0 END"
        ).alias("quality_keep"),
    )
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        (F.count("*") - F.countDistinct("content_h")).alias(
            "n_exact_dups"
        ),
        F.sum("quality_keep").alias("n_quality_keep"),
    )


@register(
    "temperature_mixture_allocation",
    f"""
WITH counts AS (
  SELECT source,
         CAST(sum(len(string_split({T.duck_norm('text')}, ' ')))
              AS BIGINT) AS toks
  FROM documents GROUP BY source
), wts AS (
  SELECT source, toks,
         CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS w
  FROM counts
), tot AS (SELECT CAST(sum(w) AS BIGINT) AS totw FROM wts),
quota AS (
  SELECT s.source, s.toks, s.w,
         CAST((s.w * {_LR_BUDGET}) // t.totw AS BIGINT) AS floor_alloc,
         CAST((s.w * {_LR_BUDGET}) % t.totw AS BIGINT) AS remainder
  FROM wts s CROSS JOIN tot t
), short AS (
  SELECT CAST({_LR_BUDGET} - sum(floor_alloc) AS BIGINT) AS leftover
  FROM quota
), ranked AS (
  SELECT q.*, s.leftover,
         CAST(row_number() OVER (
           ORDER BY q.remainder DESC, q.source) AS INTEGER) AS rr
  FROM quota q CROSS JOIN short s
)
SELECT source, toks, w AS weight_micro, floor_alloc,
       CAST(floor_alloc + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
ORDER BY source
""",
)
def temperature_mixture_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-smoothed mixture allocation: per-source sampling
    weights ∝ toks^(1/2) — the sublinear (T=2) smoothing multilingual
    pipelines use so head sources stop drowning the tail — apportioned
    to an exact integer budget by the largest-remainder rule
    (``largest_remainder_allocation``). sqrt is the ONE float step and
    IEEE-754 sqrt is correctly rounded, so floor(sqrt(x)·1e6) is
    bit-identical on every engine; everything after is integer
    arithmetic. Compared to the proportional allocation, small sources
    gain quota and the head loses it — the point of the temperature.

    Scale: identical shape to the proportional allocator — one
    corpus-sized count aggregation, then source-sized integer math."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(
            "source",
            F.size(F.split(T.norm_text("text"), " ")).alias("ntok"),
        )
        .groupBy("source")
        .agg(F.sum("ntok").alias("toks"))
    )
    wts = counts.select(
        "source",
        "toks",
        F.expr(
            "cast(floor(sqrt(cast(toks as double)) * 1000000.0D) "
            "as bigint)"
        ).alias("w"),
    )
    tot = wts.agg(F.sum("w").alias("totw"))
    quota = wts.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        "w",
        F.expr(f"(w * {_LR_BUDGET}) div totw").alias("floor_alloc"),
        F.expr(f"(w * {_LR_BUDGET}) % totw").alias("remainder"),
    )
    short = quota.agg(
        (F.lit(_LR_BUDGET) - F.sum("floor_alloc")).alias("leftover")
    )
    # bounded_global_order: one row per SOURCE (a handful of domains)
    w = bounded_global_order(
        quota,
        F.desc("remainder"),
        F.asc("source"),
        bound="one row per source domain — a handful",
        max_rows=10_000,
    )
    return (
        quota.crossJoin(F.broadcast(short))
        .withColumn("rr", F.row_number().over(w).cast("int"))
        .select(
            "source",
            "toks",
            F.col("w").alias("weight_micro"),
            "floor_alloc",
            (
                F.col("floor_alloc")
                + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
        .orderBy("source")
    )


_BAL_CAP = 30  # per-class keep budget
_BAL_HASH = "concat(cast(doc_id as string), ':bal')"
_DUCK_BAL_HASH = "doc_id::VARCHAR || ':bal'"


@register(
    "class_balanced_sample",
    f"""
WITH ranked AS (
  SELECT lang, doc_id,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY {T.duck_hash28(_DUCK_BAL_HASH)}, doc_id
         ) AS INTEGER) AS rn
  FROM documents
), kept AS (
  SELECT lang, doc_id FROM ranked WHERE rn <= {_BAL_CAP}
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(k.doc_id) AS BIGINT) AS n_kept,
       CAST(coalesce(bit_xor(k.doc_id), 0) AS BIGINT) AS kept_xor
FROM documents d
LEFT JOIN kept k ON k.doc_id = d.doc_id
GROUP BY d.lang
""",
)
def class_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: keep at most 30 documents per
    language, chosen by portable-hash order (never rand(), so the
    sample is identical across engines, runs, and partitionings, and
    stable under retry/recompute). The per-class XOR of kept doc_ids
    pins the exact membership, not just the size — the curation op
    behind 'rebalance the long-tail language mix before training'.

    Scale shape: one window per class (shuffle on lang) over
    (lang, hash, doc_id) triples only; the summary is a count-only
    aggregate. At 100 TB the hash rank rides the scan and the heavy
    text column never shuffles.
    """
    doc = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.expr(T.hash28_sql(_BAL_HASH)), F.asc("doc_id")
    )
    kept = (
        doc.select("lang", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BAL_CAP)
        .select(F.col("doc_id").alias("kept_id"))
    )
    return (
        doc.join(kept, doc.doc_id == kept.kept_id, "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("kept_id").alias("n_kept"),
            F.coalesce(F.expr("bit_xor(kept_id)"), F.lit(0))
            .cast("bigint")
            .alias("kept_xor"),
        )
    )


_KCEN_SEEDS = 5  # coreset size (fixed unroll, both engines)
_KCEN_MOD = 10  # node sample: vec_id % 10 = 0

_KCEN_DIST = (
    "round(1.0 - list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v))"
    " * sqrt(list_dot_product(b.v, b.v))), 6)"
)


def _kcenter_oracle() -> str:
    """Unrolled farthest-first traversal: seed 1 = min vec_id; each
    next seed = argmax of the running min-distance (ties → smaller
    id). Emits (sel_round, vec_id, min_dist_at_selection)."""
    parts = [
        f"""
WITH d AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % {_KCEN_MOD} = 0
), s1 AS (
  SELECT min(vec_id) AS sid FROM d
), m1 AS (
  SELECT a.vec_id, {_KCEN_DIST} AS md
  FROM d a JOIN d b ON b.vec_id = (SELECT sid FROM s1)
)"""
    ]
    for t in range(2, _KCEN_SEEDS + 1):
        parts.append(
            f""", s{t} AS (
  SELECT vec_id AS sid, md FROM m{t - 1}
  WHERE vec_id NOT IN (
    {" UNION ALL ".join(f"SELECT sid FROM s{j}" for j in range(1, t))}
  )
  ORDER BY md DESC, vec_id LIMIT 1
), m{t} AS (
  SELECT a.vec_id, least(m{t - 1}.md, {_KCEN_DIST}) AS md
  FROM d a
  JOIN m{t - 1} ON m{t - 1}.vec_id = a.vec_id
  JOIN d b ON b.vec_id = (SELECT sid FROM s{t})
)"""
        )
    selects = ["SELECT 1 AS sel_round, sid AS vec_id,"
               " CAST(0.0 AS DOUBLE) AS min_dist_at_selection FROM s1"]
    for t in range(2, _KCEN_SEEDS + 1):
        selects.append(
            f"SELECT {t} AS sel_round, sid AS vec_id,"
            f" md AS min_dist_at_selection FROM s{t}"
        )
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("kcenter_coreset_seeds", _kcenter_oracle())
def kcenter_coreset_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset selection (farthest-first traversal —
    the Sener & Savarese 2018 active-learning / data-pruning recipe):
    start from the smallest id, repeatedly pick the point farthest
    from the chosen set under rounded cosine distance (ties → smaller
    id), 5 seeds. Emits each seed with its selection round and its
    min-distance at selection (a non-increasing sequence = the
    coverage-radius curve).

    Scale shape: each round is one broadcast of a single seed vector +
    a running-min update over the node sample + one node-sized argmax;
    the running distance column is localCheckpoint-pinned per round
    (flat plans, no re-derivation). At corpus scale the same loop runs
    over an at-rest embedding table with the argmax as a
    TakeOrderedAndProject.
    """
    from oracle_vector_search_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )

    # every round's pinned frame is lazily referenced by the final
    # union (each pick recomputes from its round's md), so nothing can
    # be released mid-loop; the query's next invocation frees them all
    d = pin(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _KCEN_MOD == 0)
        .select("vec_id", as_double_array("embedding").alias("v"))
    )
    dist = F.round(
        F.lit(1.0) - cosine_similarity("v", "sv"), 6
    )
    first = d.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("sid"), F.col("v").alias("sv")
    )
    md = pin(
        d.crossJoin(F.broadcast(first)).select(
            "vec_id", "v", dist.alias("md")
        )
    )
    out_rows = first.select(
        F.lit(1).alias("sel_round"),
        F.col("sid").alias("vec_id"),
        F.lit(0.0).alias("min_dist_at_selection"),
    )
    picked = first.select("sid")
    for t in range(2, _KCEN_SEEDS + 1):
        # seed set is <= _KCEN_SEEDS rows: broadcast the anti side
        # explicitly rather than trusting stats-based auto-broadcast
        cand = md.join(
            F.broadcast(picked), md.vec_id == F.col("sid"), "left_anti"
        )
        nxt = cand.orderBy(F.desc("md"), F.asc("vec_id")).limit(
            1
        ).select(
            F.col("vec_id").alias("sid"),
            F.col("v").alias("sv"),
            F.col("md").alias("sel_md"),
        )
        out_rows = out_rows.unionByName(
            nxt.select(
                F.lit(t).alias("sel_round"),
                F.col("sid").alias("vec_id"),
                F.col("sel_md").alias("min_dist_at_selection"),
            )
        )
        md = pin(
            md.crossJoin(F.broadcast(nxt.select("sid", "sv"))).select(
                "vec_id",
                "v",
                F.least(F.col("md"), dist).alias("md"),
            )
        )
        picked = picked.unionByName(nxt.select("sid"))
    return out_rows


# ------------------------------------------- multimodal audio (real WAV)

_N_CLIPS = 48
_MAX_N = 512 + 6 * 128  # largest clip length the oracle range covers

# the shared deterministic PCM formulas (pure integer arithmetic, so
# both engines reproduce the samples bit-exactly):
#   s(c,t) = ((c*7919 + t*1103 + 211) % 65536) - 32768      mono 16-bit
#   r(c,t) = ((c*104729 + t*31 + 997) % 65536) - 32768      right channel
#   u8(c,t) = (c*31 + t*17) % 256                           8-bit clips
_DUCK_S = "(((p.c*7919 + t.t*1103 + 211) % 65536) - 32768)"
_DUCK_R = "(((p.c*104729 + t.t*31 + 997) % 65536) - 32768)"
_DUCK_U8 = "((p.c*31 + t.t*17) % 256)"


@register(
    "audio_wav_feature_parity",
    f"""
WITH params AS (
  SELECT c,
         512 + (c % 7) * 128 AS n,
         8000 * (1 + c % 3) AS sr,
         c % 4 AS br
  FROM (SELECT unnest(range({_N_CLIPS})) AS c)
), samples AS (
  SELECT p.c, p.sr, p.n, t.t,
         CASE p.br
           WHEN 1 THEN CAST(floor(({_DUCK_S} + {_DUCK_R}) / 2.0) AS BIGINT)
           WHEN 2 THEN CAST(({_DUCK_U8} - 128) * 256 AS BIGINT)
           ELSE CAST({_DUCK_S} AS BIGINT)
         END AS m
  FROM params p JOIN range({_MAX_N}) t(t) ON t.t < p.n
), nxt AS (
  SELECT c, sr, n, t, m,
         lead(m) OVER (PARTITION BY c ORDER BY t) AS m1
  FROM samples
)
SELECT CAST(c AS BIGINT) AS clip_id,
       CAST(sr AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       round(sqrt(CAST(sum(m * m) AS DOUBLE) / n), 6) AS rms,
       CAST(sum(CASE WHEN m1 IS NOT NULL
                      AND (m < 0) != (m1 < 0) THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_crossings,
       CAST(max(abs(m)) AS BIGINT) AS peak,
       CAST(bit_xor(m & 65535) AS BIGINT) AS xor_checksum
FROM nxt
GROUP BY c, sr, n
ORDER BY clip_id
""",
)
def audio_wav_feature_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio bytes through the multimodal column stack, oracle-
    checked end-to-end: deterministic PCM is encoded into genuine
    RIFF/WAVE files (four codec variants per clip stripe — plain 16-bit
    mono, stereo needing floor-mean downmix, 8-bit unsigned needing
    promotion, and a file with an odd-sized unknown chunk the walker
    must skip), shipped through a BINARY column, decoded by the
    dependency-free numpy WAV codec (functions/wav_numpy.py), and
    reduced to acoustic features with Catalyst higher-order functions
    (aggregate/zip_with/transform — JVM-side, no Python in the feature
    math). One planted malformed blob exercises F3 (drops, never
    raises). DuckDB re-derives every feature from the generating
    formulas alone — it never sees the bytes — so a single wrong byte
    anywhere in encode → transfer → chunk-walk → decode → downmix →
    promotion flips a checksum and fails the gate.

    100 TB shape: encode/decode are Arrow-batched scan-stage work
    (audio never shuffles); the features shuffle is one row per clip.
    The reference repo is image-only — this is the training-data
    pipeline surface (brief: multimodal columns), image analogue
    ``reference_crops_decode_parity``."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from oracle_vector_search_spark.functions.wav_numpy import (
        encode_wav_pcm,
        encode_wav_pcm16,
    )
    from oracle_vector_search_spark.sources.media import (
        decode_audio_samples,
    )

    def make_wavs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for cid in pdf["id"]:
                c = int(cid)
                if c >= _N_CLIPS:  # planted malformed blob (F3)
                    rows.append((c, b"RIFF\x10\x00\x00\x00WAVEtrunc"))
                    continue
                n = 512 + (c % 7) * 128
                sr = 8000 * (1 + c % 3)
                t = np.arange(n, dtype=np.int64)
                s = ((c * 7919 + t * 1103 + 211) % 65536) - 32768
                br = c % 4
                if br == 1:  # stereo: decode must floor-mean downmix
                    r = ((c * 104729 + t * 31 + 997) % 65536) - 32768
                    lr = np.stack([s, r], axis=1).astype(np.int16)
                    b = encode_wav_pcm(lr, sr, bits=16, channels=2)
                elif br == 2:  # 8-bit: decode must promote (u-128)*256
                    u8 = ((c * 31 + t * 17) % 256).astype(np.uint8)
                    b = encode_wav_pcm(u8, sr, bits=8)
                elif br == 3:  # odd-sized unknown chunk: walker skips
                    b = encode_wav_pcm(
                        s.astype(np.int16), sr, junk_chunk=b"\x01\x02\x03"
                    )
                else:
                    b = encode_wav_pcm16(s.astype(np.int16), sr)
                rows.append((c, b))
            yield pd.DataFrame(rows, columns=["id", "content"])

    clips = spark.range(0, _N_CLIPS + 1, 1, 4).mapInPandas(
        make_wavs, schema="id long, content binary"
    )
    decoded = decode_audio_samples(clips)  # malformed clip drops here

    sum_sq = (
        "aggregate(samples, CAST(0 AS BIGINT), "
        "(acc, x) -> acc + CAST(x AS BIGINT) * CAST(x AS BIGINT))"
    )
    zc = (
        "aggregate(zip_with("
        "slice(samples, 1, size(samples) - 1), "
        "slice(samples, 2, size(samples) - 1), "
        "(a, b) -> IF((a < 0) != (b < 0), 1, 0)), "
        "0, (acc, x) -> acc + x)"
    )
    return (
        decoded.select(
            F.col("id").alias("clip_id"),
            F.col("sample_rate").cast("long").alias("sample_rate"),
            F.size("samples").cast("long").alias("n_samples"),
            F.expr(sum_sq).alias("ss"),
            F.expr(zc).cast("long").alias("zero_crossings"),
            F.expr("array_max(transform(samples, x -> abs(x)))")
            .cast("long")
            .alias("peak"),
            F.expr(
                "aggregate(samples, 0, (acc, x) -> acc ^ (x & 65535))"
            )
            .cast("long")
            .alias("xor_checksum"),
        )
        .select(
            "clip_id",
            "sample_rate",
            "n_samples",
            F.round(
                F.sqrt(
                    F.col("ss").cast("double")
                    / F.col("n_samples").cast("double")
                ),
                6,
            ).alias("rms"),
            "zero_crossings",
            "peak",
            "xor_checksum",
        )
        .orderBy("clip_id")
    )


# ---------------------------------------- multimodal video (real MJPEG)

_NV_CLIPS = 32
_NV_H, _NV_W = 16, 24  # frame geometry (even levels are MJPEG-lossless)

# The synthetic clip corpus AT REST (VERDICT r8 #2): the 32 real
# AVI/MJPEG containers (+1 planted malformed container, F3) are
# encoded ONCE per session and written to parquet; both video queries
# read the binary column back instead of re-running JPEG encode + AVI
# assembly per invocation. This mirrors the deployment reality — a
# video corpus is an ingested at-rest table, not something the query
# path synthesizes — and the index/LSH/postings at-rest pattern used
# everywhere else (io.at_rest).


def _clip_corpus(spark: SparkSession) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from oracle_vector_search_spark.io import (
        at_rest,
        read_artifact,
        write_artifact,
    )
    from oracle_vector_search_spark.scratch import scratch_dir

    def build():
        import numpy as np

        from oracle_vector_search_spark.functions.avi_numpy import (
            encode_avi_mjpeg,
        )

        def make_avis(
            it: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = []
                for cid in pdf["id"]:
                    c = int(cid)
                    if c >= _NV_CLIPS:  # planted malformed container
                        rows.append((c, b"RIFF\x08\x00\x00\x00AVI hdrl"))
                        continue
                    nf = 4 + c % 5
                    frames = np.stack(
                        [
                            np.full(
                                (_NV_H, _NV_W),
                                2 * ((c * 37 + f * 11) % 128),
                                dtype=np.uint8,
                            )
                            for f in range(nf)
                        ]
                    )
                    rows.append(
                        (c, encode_avi_mjpeg(frames, fps=10 + c % 3))
                    )
                yield pd.DataFrame(rows, columns=["id", "content"])

        path = scratch_dir("ovs_clip_corpus_")
        # explicit small partition count: a bare range() inherits
        # defaultParallelism (32), which writes the 33-clip corpus as
        # 33 one-row files — every warm decode pass then pays 33 Arrow
        # task round-trips across TWO chained Python stages (the r9
        # worker-churn lesson; re-measured r11 when this query's bench
        # number drifted). 4 files keeps decode parallel without the
        # per-task overhead dwarfing the work; a real 100 TB clip
        # corpus arrives as many multi-GiB files, not synth rows.
        write_artifact(
            spark.range(0, _NV_CLIPS + 1, 1, 4).mapInPandas(
                make_avis, schema="id long, content binary"
            ),
            path,
        )
        return path

    return read_artifact(spark, at_rest(spark, _clip_corpus, build))


@register(
    "video_mjpeg_frame_parity",
    f"""
WITH params AS (
  SELECT c, 4 + c % 5 AS nf
  FROM (SELECT unnest(range({_NV_CLIPS})) AS c)
), sampled AS (
  SELECT p.c, f.f,
         2 * ((p.c*37 + f.f*11) % 128) AS v
  FROM params p JOIN range(0, 9, 2) f(f) ON f.f < p.nf
)
SELECT CAST(c AS BIGINT) AS clip_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST({_NV_W} AS INTEGER) AS width,
       CAST({_NV_H} AS INTEGER) AS height,
       CAST(v AS BIGINT) AS luma_min,
       CAST(v AS BIGINT) AS luma_max,
       CAST(v * {_NV_H * _NV_W} AS BIGINT) AS luma_sum
FROM sampled
ORDER BY clip_id, frame_idx
""",
)
def video_mjpeg_frame_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video bytes through the multimodal column stack, oracle-
    checked end-to-end: deterministic uniform frames (even gray levels
    — exactly losslessly representable under the Annex-K DC quantizer,
    proven in tests/test_avi_codec.py) are JPEG-encoded, assembled
    into genuine AVI/MJPEG containers (functions/avi_numpy.py: hdrl +
    movi + idx1), shipped through a BINARY column, frame-sampled by
    the 1→N ``video_frame_sample`` operator (every 2nd frame), and
    reduced to per-frame luma stats. DuckDB re-derives clip/frame
    geometry and every luma value from the generating formula alone —
    one wrong byte anywhere in JPEG encode → AVI assembly → chunk walk
    → entropy decode → IDCT → rounding → stride sampling flips a row.
    Video analogue of ``audio_wav_feature_parity`` /
    ``reference_crops_decode_parity``.

    100 TB shape: container decode + frame sampling are Arrow-batched
    scan-stage work over the AT-REST clip corpus (pixels shuffle only
    as the sampled frames a downstream trainer actually keeps); stats
    are one row per frame. The corpus itself is written once per
    session (``_clip_corpus``) — encode cost is ingest, not query."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from oracle_vector_search_spark.sources.media import (
        video_frame_sample,
    )

    frames = video_frame_sample(_clip_corpus(spark), every_k=2)

    stats_schema = (
        "clip_id long, frame_idx int, width int, height int, "
        "luma_min long, luma_max long, luma_sum long"
    )

    def frame_stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for cid, fi, w, h, fb in zip(
                pdf["id"],
                pdf["frame_idx"],
                pdf["width"],
                pdf["height"],
                pdf["frame"],
            ):
                arr = np.frombuffer(bytes(fb), np.uint8)
                rows.append(
                    {
                        "clip_id": int(cid),
                        "frame_idx": int(fi),
                        "width": int(w),
                        "height": int(h),
                        "luma_min": int(arr.min()),
                        "luma_max": int(arr.max()),
                        "luma_sum": int(arr.astype(np.int64).sum()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "clip_id", "frame_idx", "width", "height",
                    "luma_min", "luma_max", "luma_sum",
                ],
            )

    return frames.mapInPandas(frame_stats, schema=stats_schema).orderBy(
        "clip_id", "frame_idx"
    )


# ------------------------------------- audio VAD / silence segmentation

_VAD_CLIPS = 40
_VAD_N = 1600  # samples per clip (100 ms at 16 kHz)
_VAD_FRAME = 160  # 10 ms frames -> 10 frames per clip
_VAD_THRESH = 1_000_000  # frame sum-of-squares voiced threshold
# frame k of clip c is generated VOICED iff ((c*13 + k*7) % 5) < 3;
# voiced samples span +-2048 (frame energy ~2e8), unvoiced +-32 (~5e4),
# so the integer threshold has >3 orders of magnitude of margin


@register(
    "audio_vad_silence_segments",
    f"""
WITH samples AS (
  SELECT p.c, t.t, t.t // {_VAD_FRAME} AS k,
         CASE WHEN ((p.c*13 + (t.t // {_VAD_FRAME})*7) % 5) < 3
              THEN ((p.c*31 + t.t*17) % 4096) - 2048
              ELSE ((p.c*31 + t.t*17) % 64) - 32
         END AS s
  FROM (SELECT unnest(range({_VAD_CLIPS})) AS c) p,
       (SELECT unnest(range({_VAD_N})) AS t) t
), frames AS (
  SELECT c, k, sum(CAST(s AS BIGINT) * s) AS ss
  FROM samples GROUP BY c, k
), voiced AS (
  SELECT c, k,
         CASE WHEN lag(k) OVER (PARTITION BY c ORDER BY k) IS NULL
                   OR lag(k) OVER (PARTITION BY c ORDER BY k) != k - 1
              THEN 1 ELSE 0 END AS seg_start
  FROM frames WHERE ss > {_VAD_THRESH}
), segs AS (
  SELECT c, k,
         sum(seg_start) OVER (
           PARTITION BY c ORDER BY k
           ROWS UNBOUNDED PRECEDING) AS seg_idx
  FROM voiced
)
SELECT CAST(c AS BIGINT) AS clip_id,
       CAST(seg_idx AS INTEGER) AS seg_idx,
       CAST(min(k) AS INTEGER) AS start_frame,
       CAST(max(k) AS INTEGER) AS end_frame,
       CAST(count(*) AS BIGINT) AS n_frames
FROM segs
GROUP BY c, seg_idx
ORDER BY clip_id, seg_idx
""",
)
def audio_vad_silence_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy-threshold voice-activity detection over REAL WAV bytes —
    the speech-corpus curation primitive (silence trimming / utterance
    segmentation) run end-to-end through the codec: deterministic PCM
    with designed voiced/silent 10 ms frames → 16-bit WAV → BINARY
    column → numpy decode → Catalyst framing (``transform(sequence)``
    slices — the samples array never leaves the JVM) → integer frame
    energy → gaps-and-islands (lag + running sum) into voiced
    segments. DuckDB re-derives frame energies from the generating
    formula and replays the same island logic — decode, framing,
    energy, and segmentation all hash-gated.

    100 TB shape: decode + framing are scan-stage; the only shuffle
    carries (clip, frame, energy) rows — 10 per clip, audio-seconds
    sized, not sample sized."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from oracle_vector_search_spark.functions.wav_numpy import (
        encode_wav_pcm16,
    )
    from oracle_vector_search_spark.sources.media import (
        decode_audio_samples,
    )

    def make_wavs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for cid in pdf["id"]:
                c = int(cid)
                t = np.arange(_VAD_N, dtype=np.int64)
                k = t // _VAD_FRAME
                voiced = ((c * 13 + k * 7) % 5) < 3
                s = np.where(
                    voiced,
                    ((c * 31 + t * 17) % 4096) - 2048,
                    ((c * 31 + t * 17) % 64) - 32,
                )
                rows.append(
                    (c, encode_wav_pcm16(s.astype(np.int16), 16000))
                )
            yield pd.DataFrame(rows, columns=["id", "content"])

    clips = spark.range(0, _VAD_CLIPS, 1, 4).mapInPandas(
        make_wavs, schema="id long, content binary"
    )
    decoded = decode_audio_samples(clips)
    frames = decoded.select(
        F.col("id").alias("clip_id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(size(samples) / {_VAD_FRAME} "
                f"AS INT) - 1), k -> struct(k AS k, "
                f"aggregate(slice(samples, k * {_VAD_FRAME} + 1, "
                f"{_VAD_FRAME}), CAST(0 AS BIGINT), "
                f"(a, x) -> a + CAST(x AS BIGINT) * x) AS ss))"
            )
        ).alias("f"),
    ).select("clip_id", F.col("f.k").alias("k"), F.col("f.ss").alias("ss"))
    w_ord = Window.partitionBy("clip_id").orderBy("k")
    voiced = frames.filter(F.col("ss") > _VAD_THRESH).withColumn(
        "seg_start",
        F.when(
            F.lag("k").over(w_ord).isNull()
            | (F.lag("k").over(w_ord) != F.col("k") - 1),
            1,
        ).otherwise(0),
    )
    segs = voiced.withColumn(
        "seg_idx",
        F.sum("seg_start")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    return (
        segs.groupBy("clip_id", "seg_idx")
        .agg(
            F.min("k").cast("int").alias("start_frame"),
            F.max("k").cast("int").alias("end_frame"),
            F.count(F.lit(1)).alias("n_frames"),
        )
        .orderBy("clip_id", "seg_idx")
    )


# ------------------------- video -> vector end-to-end (VERDICT r7 #6)

_VK_EVERY = 4  # keyframe stride
_VK_K = 3
_VK_DIMS = 64  # match the embeddings fixture dimension
_VK_GOLDEN = """(0, 0, '3979d6ed9e3c55dacd026d3c0dade407'),
  (1, 0, 'b8fd4ac63a557199ac4c5f88df4ed075'),
  (1, 4, '2a1d77738943ead9c181fa9252110417'),
  (2, 0, '3d78780fe5c29d53e0769828cc0ee5aa'),
  (2, 4, '9a61eb43f197dafd586ddf86ba34c0b4'),
  (3, 0, 'd6f7da2e838adbb3a416c14749521411'),
  (3, 4, '126d8f7e31b5910d65090df8305f34af'),
  (4, 0, '431ed29fb6d0d5dbd9ad5908ac55059d'),
  (4, 4, 'a530baa670fb246f9528e13ecc580761'),
  (5, 0, '7fe14bf91cbef705966a8876642c5aa4'),
  (6, 0, '42e8392bb4deb8b8f809f5aaf45ef127'),
  (6, 4, 'bbb2b0edd64cb87a357eab29847af920'),
  (7, 0, '4f6a0fc0f3baec885de079a823b8bca0'),
  (7, 4, '0a42d382fd58c5dcf9db01b4aa9de44b'),
  (8, 0, 'a87390601c72789af6afdc8e0d5b14d0'),
  (8, 4, '826f3f84feefd40664b22435ec91d0a4'),
  (9, 0, '49fae5d51914838f57b0759b713184d4'),
  (9, 4, '61b9becc368b9e97c503d2201ebecdf6'),
  (10, 0, '924f5e3cc418d04ec64eb9c2cfd02e62'),
  (11, 0, '6d92e0001707795abcf9bade936cc979'),
  (11, 4, '16f038634258e92eb587054e109ba325'),
  (12, 0, '86c27a921df883ba90ccc3d505bbe1fd'),
  (12, 4, '1f2f60daba0c90fd8987a10d05d6dc09'),
  (13, 0, 'e680e71f96c6ab09a6e6c8643e08006d'),
  (13, 4, 'ecce7a76922cd07804e79291d29d587a'),
  (14, 0, 'ea115a96f832d8f7930a594b1b2a7fb9'),
  (14, 4, 'c2f1562c608de445b960b79fcc840fd4'),
  (15, 0, 'a6954216d27fe769d3678dfb217b9a78'),
  (16, 0, '926695a87bb6d9d056616e1a7f0efddf'),
  (16, 4, 'fe9784d5e672fa521e729730b8440035'),
  (17, 0, 'e7f2dc0c6d50db8ea2ae1656e6d24656'),
  (17, 4, '21d6aa84ce64dba0870ea47a289cd4b3'),
  (18, 0, '9b779c2b78c3665049598af939568d2e'),
  (18, 4, '7ccc74f5b11aad662d678c803bc1819e'),
  (19, 0, '499e8724e0688d687f43726765ba3be2'),
  (19, 4, '274395aaa7034332fa2d7ace7c4abcee'),
  (20, 0, 'def6ff135c623de3d46487d536a6faaf'),
  (21, 0, 'eca426081448a4417dacc281cd752924'),
  (21, 4, '1a4ea79e5843a7b3859d2537f7766dee'),
  (22, 0, 'c04a30481000477a8082d199989f69f5'),
  (22, 4, '40b7853346e5fd08a8dd8a0b6b6b3c9e'),
  (23, 0, '6a15072f592bcdc26557a04e8718b285'),
  (23, 4, 'f9b34aefef5e042d3d1c0fbfe5d10d16'),
  (24, 0, 'ff959e6b4b1463554f180bf1b6aeb839'),
  (24, 4, '8adf63f78cad3d03ca31e5466143ad0d'),
  (25, 0, 'b329c5b4f34146bde11e5f6c1706c532'),
  (26, 0, '1b95ce8651fced5abaa90da10811f689'),
  (26, 4, 'e6c71958f5f7d925848ebef59cf69c54'),
  (27, 0, '99b8b6d5350bc33400714644bdfb9335'),
  (27, 4, '0f3877e464b2097d6b8ea4df72cada4c'),
  (28, 0, '647e7fb72013b0425ca6a09586688584'),
  (28, 4, 'a11a990fedda5fcd9885e0e8a28d15d7'),
  (29, 0, 'd5a0d69e3ea6c38f341a569caab6dbde'),
  (29, 4, '28b1d1a5e272921cb9fd30e279429530'),
  (30, 0, '052378db73405b0f688ae1c97ea499f9'),
  (31, 0, 'ab8c19ba82591342ac6c1c426c9d0964'),
  (31, 4, '2c9a47ac339110594d787e8a513840c0')"""


@register(
    "video_keyframe_knn",
    f"""
WITH golden(clip_id, frame_idx, tensor_md5) AS (
  VALUES
  {_VK_GOLDEN}
), q AS (
  SELECT clip_id, frame_idx,
         {duck_embedding_expr("tensor_md5", _VK_DIMS)} AS e
  FROM golden
), d AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
  FROM embeddings
), scored AS (
  SELECT q.clip_id, q.frame_idx, d.neighbor_id,
         round(
           list_dot_product(q.e, d.v)
           / (sqrt(list_dot_product(q.e, q.e))
              * sqrt(list_dot_product(d.v, d.v))), 6) AS score
  FROM d CROSS JOIN q
), ranked AS (
  SELECT clip_id, frame_idx, neighbor_id, score,
         CAST(row_number() OVER (
           PARTITION BY clip_id, frame_idx
           ORDER BY score DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT CAST(clip_id AS BIGINT) AS clip_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       neighbor_id, score, rank
FROM ranked WHERE rank <= {_VK_K}
ORDER BY clip_id, frame_idx, rank
""",
)
def video_keyframe_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r7 #6 — video reaches the VECTOR surface: the same 32
    real AVI/MJPEG containers as ``video_mjpeg_frame_parity`` are
    keyframe-sampled (every 4th frame), each keyframe runs the T7
    CNN-tensor preprocess and the T8 hash-projection embedder at the
    fixture dimension (64), and the resulting vectors query exact
    cosine top-3 against the ``embeddings`` table via the SAME
    ``knn_exact`` operator every other vector query uses — the
    audio→VAD composition pattern, applied to video.

    Oracle: DuckDB re-derives the ENTIRE post-tensor path genuinely in
    SQL — 64-dim embedding expansion from the md5 bridge
    (functions/embed.duck_embedding_expr), cosine, ranking — against
    the same parquet view.  Only the tensor-bytes md5 per keyframe is
    frozen (DuckDB's md5() cannot digest raw BLOBs), produced by
    tools/make_video_knn_golden.py via two independent routes
    (production codec+tensor vs formula pixels + independent tensor)
    asserted equal before freezing; the codec path itself is proven
    byte-exact by ``video_mjpeg_frame_parity``'s formula oracle.

    100 TB shape: containers decode and embed in the scan stage over
    the AT-REST clip corpus (Arrow-batched, frames never shuffle); the
    kNN is the GEMM tier — the 57×64 keyframe matrix broadcasts
    (bounded by the tier's ``max_queries`` guard) and each index
    partition runs ONE BLAS multiply, ~2× faster than evaluating 57
    cosine expressions per row in the expression tier (measured at
    sf0.1; outputs identical, both tiers share the oracle). Encode
    cost is ingest (``_clip_corpus``, once per session), not query."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from oracle_vector_search_spark.functions.embed import (
        hash_projection_embed_batch,
    )
    from oracle_vector_search_spark.operators.knn import knn_exact_gemm
    from oracle_vector_search_spark.sources.images import (
        _cnn_input_tensor,
    )
    from oracle_vector_search_spark.sources.media import (
        video_frame_sample,
    )

    clips = _clip_corpus(spark).filter(F.col("id") < _NV_CLIPS)
    frames = video_frame_sample(clips, every_k=_VK_EVERY)

    def embed_frames(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fidx, tensors = [], [], []
            for cid, fi, w, h, fb in zip(
                pdf["id"], pdf["frame_idx"], pdf["width"],
                pdf["height"], pdf["frame"],
            ):
                g = np.frombuffer(bytes(fb), np.uint8).reshape(
                    int(h), int(w)
                )
                t = _cnn_input_tensor(np.stack([g, g, g], axis=2))
                ids.append(int(cid))
                fidx.append(int(fi))
                tensors.append(t.tobytes())
            embs = hash_projection_embed_batch(tensors, _VK_DIMS)
            yield pd.DataFrame(
                {"clip_id": ids, "frame_idx": fidx, "embedding": embs}
            )

    qvecs = frames.mapInPandas(
        embed_frames,
        schema="clip_id long, frame_idx int, embedding array<double>",
    ).withColumn(
        "qid", F.col("clip_id") * 100 + F.col("frame_idx")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    topk = knn_exact_gemm(
        emb, qvecs, k=_VK_K, query_id_col="qid",
        query_vec_col="embedding",
    )
    return topk.select(
        (F.col("query_id") / 100).cast("bigint").alias("clip_id"),
        (F.col("query_id") % 100).cast("int").alias("frame_idx"),
        "neighbor_id",
        "score",
        "rank",
    ).orderBy("clip_id", "frame_idx", "rank")


# --------------------------- multimodal image #2: real PNG (round 8)

_NP_IMGS = 24


@register(
    "image_png_decode_parity",
    f"""
WITH imgs AS (
  SELECT i, 8 + i % 5 AS w, 6 + i % 7 AS h,
         ([1, 3, 4])[(i % 3) + 1] AS cin
  FROM (SELECT unnest(range({_NP_IMGS})) AS i)
), px AS (
  SELECT m.i, m.w, m.h,
         (m.i*7 + y.y*5 + x.x*3
          + (CASE WHEN m.cin = 1 THEN 0 ELSE 2 - c.c END) * 11)
           % 256 AS v,
         (y.y*31 + x.x*17 + c.c*7) % 97 AS wgt
  FROM imgs m,
       (SELECT unnest(range(16)) AS y) y,
       (SELECT unnest(range(16)) AS x) x,
       (SELECT unnest(range(3)) AS c) c
  WHERE y.y < m.h AND x.x < m.w
)
SELECT CAST(i AS BIGINT) AS img_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(sum(v) AS BIGINT) AS pix_sum,
       CAST(sum(v * wgt) AS BIGINT) AS pos_checksum,
       CAST(min(v) AS BIGINT) AS v_min,
       CAST(max(v) AS BIGINT) AS v_max
FROM px
GROUP BY i, w, h
ORDER BY img_id
""",
)
def image_png_decode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG bytes through the S2 multimodal stack, oracle-checked
    end-to-end: deterministic formula pixels (gray / RGB / RGBA per
    image) are PNG-encoded with the per-row filter CYCLING through all
    five types (None/Sub/Up/Average/Paeth — so every decoder
    unfiltering path, including both intra-row recurrences, sits on
    the oracle path), shipped through a BINARY column, decoded by the
    production `_decode_one` dispatch (signature-routed to
    functions/png_numpy.py, output normalized to 3-channel BGR like
    the cv2 tier), and reduced to exact integer stats — including a
    POSITION-weighted checksum Σ v·((31y+17x+7c) mod 97), which one
    transposed pixel, shifted row, or swapped channel anywhere in
    inflate → unfilter → palette/alpha normalize → BGR would flip.

    DuckDB re-derives every value from the generating formula alone
    (PNG is lossless, so parity is EXACT, not tolerance-based): the
    BGR channel map is c→2−c for color inputs, constant 0 for gray;
    the planted malformed blob (image {_NP_IMGS}) must drop, never
    raise (F3).  Image analogue #2 after JPEG — the other format the
    S2 scan's F1 filter admits.

    100 TB shape: decode is Arrow-batched scan-stage work (stdlib
    zlib inflate + numpy unfilter); one stats row per image shuffles,
    pixels never do."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from oracle_vector_search_spark.functions.png_numpy import encode_png
    from oracle_vector_search_spark.sources.images import _decode_one

    def make_pngs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for iid in pdf["id"]:
                i = int(iid)
                if i >= _NP_IMGS:  # planted malformed blob (F3)
                    rows.append((i, b"\x89PNG\r\n\x1a\n\x00trunc"))
                    continue
                w, h = 8 + i % 5, 6 + i % 7
                cin = (1, 3, 4)[i % 3]
                y, x, ch = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(cin),
                    indexing="ij",
                )
                a = ((i * 7 + y * 5 + x * 3 + ch * 11) % 256).astype(
                    np.uint8
                )
                rows.append((i, encode_png(a, "cycle")))
            yield pd.DataFrame(rows, columns=["id", "content"])

    blobs = spark.range(0, _NP_IMGS + 1, 1, 4).mapInPandas(
        make_pngs, schema="id long, content binary"
    )

    def stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for iid, b in zip(pdf["id"], pdf["content"]):
                arr = _decode_one(bytes(b))
                if arr is None:
                    continue  # F3: malformed drops
                h, w, _ = arr.shape
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3),
                    indexing="ij",
                )
                wgt = (y * 31 + x * 17 + c * 7) % 97
                a64 = arr.astype(np.int64)
                rows.append(
                    {
                        "img_id": int(iid),
                        "width": int(w),
                        "height": int(h),
                        "pix_sum": int(a64.sum()),
                        "pos_checksum": int((a64 * wgt).sum()),
                        "v_min": int(a64.min()),
                        "v_max": int(a64.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "img_id", "width", "height", "pix_sum",
                    "pos_checksum", "v_min", "v_max",
                ],
            )

    return blobs.mapInPandas(
        stats,
        schema="img_id long, width int, height int, pix_sum long, "
        "pos_checksum long, v_min long, v_max long",
    ).orderBy("img_id")


# ---------------- domain mixture reweighting (round 8, DoReMi-style)

_MW_ETA = "0.5"  # multiplicative-weights learning rate, as a literal


@register(
    "domain_mixture_mw_step",
    f"""
WITH scored AS (
  SELECT source,
         CAST(1000000 * CAST(length(list_distinct(string_split(text, ' ')))
              AS BIGINT) // CAST(length(string_split(text, ' ')) AS BIGINT)
              AS BIGINT) AS q
  FROM documents
), dom AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(q) AS BIGINT) AS sq
  FROM scored GROUP BY source
), k AS (SELECT CAST(count(*) AS BIGINT) AS n_dom FROM dom),
terms AS (
  SELECT d.source, d.n_docs,
         CAST(d.sq AS DOUBLE) / d.n_docs AS mean_q,
         1.0 - CAST(d.sq AS DOUBLE) / d.n_docs / 1000000.0 AS loss,
         (1.0 + {_MW_ETA} *
          (1.0 - CAST(d.sq AS DOUBLE) / d.n_docs / 1000000.0))
           / k.n_dom AS raw_w,
         1.0 / k.n_dom AS w_uniform
  FROM dom d CROSS JOIN k
), z AS (SELECT sum(raw_w) AS z FROM terms)
SELECT t.source, t.n_docs,
       round(t.mean_q, 6) AS mean_q,
       round(t.loss, 6) AS loss,
       round(t.w_uniform, 6) AS w_uniform,
       round(t.raw_w / z.z, 6) AS w_step1
FROM terms t CROSS JOIN z
ORDER BY t.source
""",
)
def domain_mixture_mw_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting, one exact multiplicative-weights
    step (the Arora-Hazan-Kale MW rule, the deterministic core of
    DoReMi-style domain reweighting — Xie et al. 2023): domains are
    document sources, the per-domain "excess loss" proxy is the mean
    quality deficit (1 − mean_q/10⁶, a rational of the exact integer
    score sums), and the update w¹_d ∝ w⁰_d·(1 + η·loss_d) starts from
    the uniform mixture.  The rational (not exponential) update keeps
    every number a closed form of integer sufficient statistics — no
    libm in the weight path, so both engines agree to rounding.

    100 TB shape: one scan-stage integer projection, one sources-keyed
    partial-agg shuffle; the update itself touches K rows."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "source",
        "CAST(1000000 * CAST(size(array_distinct(split(text, ' ')))"
        " AS BIGINT) div CAST(size(split(text, ' ')) AS BIGINT)"
        " AS BIGINT) AS q",
    )
    dom = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("q").cast("long").alias("sq"),
    )
    k = dom.agg(F.count(F.lit(1)).cast("long").alias("n_dom"))
    mean_q = F.col("sq").cast("double") / F.col("n_docs")
    loss = F.lit(1.0) - mean_q / F.lit(1_000_000.0)
    terms = dom.crossJoin(F.broadcast(k)).select(
        "source",
        "n_docs",
        mean_q.alias("mean_q"),
        loss.alias("loss"),
        ((F.lit(1.0) + F.expr(_MW_ETA) * loss) / F.col("n_dom")).alias(
            "raw_w"
        ),
        (F.lit(1.0) / F.col("n_dom")).alias("w_uniform"),
    )
    z = terms.agg(F.sum("raw_w").alias("z"))
    return (
        terms.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            F.round("mean_q", 6).alias("mean_q"),
            F.round("loss", 6).alias("loss"),
            F.round("w_uniform", 6).alias("w_uniform"),
            F.round(F.col("raw_w") / F.col("z"), 6).alias("w_step1"),
        )
        .orderBy("source")
    )


# --------------------- context-truncation loss audit (round 8)

_TRUNC_BUDGETS = (32, 64, 128, 256)


@register(
    "truncation_loss_audit",
    f"""
WITH toks AS (
  SELECT doc_id,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), budgets AS (
  SELECT unnest([{", ".join(str(b) for b in _TRUNC_BUDGETS)}]) AS ctx
)
SELECT CAST(b.ctx AS BIGINT) AS ctx_len,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN t.n > b.ctx THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated,
       CAST(sum(t.n) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN t.n > b.ctx THEN t.n - b.ctx ELSE 0 END)
            AS BIGINT) AS tokens_lost,
       round(CAST(sum(CASE WHEN t.n > b.ctx THEN t.n - b.ctx ELSE 0 END)
                  AS DOUBLE) / sum(t.n), 6) AS loss_fraction
FROM toks t CROSS JOIN budgets b
GROUP BY b.ctx
ORDER BY ctx_len
""",
)
def truncation_loss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning audit: for each candidate context
    budget, how many documents would truncate and what fraction of
    corpus tokens the cut discards — the measurement behind choosing a
    packing length (truncation loses signal; padding wastes compute;
    `packed_context_bins` is the packing side of the same decision).
    Exact integer token counts; one division at the end.

    100 TB shape: one scan-stage token count, broadcast of the
    |budgets|-row dimension, count-only partial-agg shuffle bounded by
    |budgets| — the corpus is read once for all budgets."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.split("text", " ")).cast("long").alias("n")
    )
    budgets = spark.createDataFrame(
        [(b,) for b in _TRUNC_BUDGETS], "ctx long"
    )
    j = toks.crossJoin(F.broadcast(budgets))
    lost = F.when(
        F.col("n") > F.col("ctx"), F.col("n") - F.col("ctx")
    ).otherwise(0)
    return (
        j.groupBy("ctx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n") > F.col("ctx")).cast("long"))
            .cast("long")
            .alias("n_truncated"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(lost).cast("long").alias("tokens_lost"),
        )
        .select(
            F.col("ctx").alias("ctx_len"),
            "n_docs",
            "n_truncated",
            "total_tokens",
            "tokens_lost",
            F.round(
                F.col("tokens_lost").cast("double")
                / F.col("total_tokens"),
                6,
            ).alias("loss_fraction"),
        )
        .orderBy("ctx_len")
    )
