"""Preference / reward-model data operators — the post-curation stage
of an LLM training pipeline: turning ranked or compared samples into
DPO training pairs, fitting a Bradley-Terry strength model to pairwise
outcomes, and auditing annotator agreement.

New family in round 8 (no reference counterpart — the reference stops
at retrieval; these are the "operations a large-scale training-data
pipeline would need" the brief asks for alongside SURVEY §2).  All
three queries are deterministic and fully oracle-checked:

* preference_pairs_dpo      — chosen/rejected pair construction per
                              prompt group with a margin gate
* bradley_terry_mm_step     — two minorization-maximization updates of
                              BT strengths over deterministic pairwise
                              outcomes (Hunter 2004, "MM algorithms
                              for generalized Bradley-Terry models")
* preference_agreement_kappa — Cohen's kappa between two scoring
                              functions labeling the same pairs
                              (Cohen 1960)
* reward_calibration_ece    — reliability diagram + expected
                              calibration error over the BT-form
                              predicted win probability (Naeini 2015)
* best_of_n_selection_lift  — E[max of n] − E[mean of n] of the
                              reward proxy per group (the BoN
                              sampling-policy measurement)
* preference_length_bias_audit — verbosity-bias check: how often the
                              quality winner is also the longer
                              document, with an exact sign-test z

The pairwise "matches" derive from the documents corpus itself
(consecutive doc_ids within a language compete on a deterministic
quality score), so every number is reproducible from the parquet
alone — no rand(), no external annotations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register

# Quality score in exact integer micro-units: 1e6 * distinct_tokens /
# total_tokens. Integer arithmetic end-to-end (floor division), so the
# score — and every comparison on it — is bit-identical cross-engine.
_SCORE_SQL_DUCK = """
CAST(1000000 * CAST(length(list_distinct(string_split(text, ' ')))
     AS BIGINT) // CAST(length(string_split(text, ' ')) AS BIGINT)
     AS BIGINT)"""
_SCORE_SQL_SPARK = (
    "CAST(1000000 * CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
    " div CAST(size(split(text, ' ')) AS BIGINT) AS BIGINT)"
)

_DPO_MARGIN = 50_000  # micro-units: chosen must beat rejected by 5pp


@register(
    "preference_pairs_dpo",
    f"""
WITH scored AS (
  SELECT doc_id, lang, source, {_SCORE_SQL_DUCK} AS q
  FROM documents
), ranked AS (
  SELECT lang, doc_id, source, q,
         row_number() OVER (PARTITION BY lang
                            ORDER BY q DESC, doc_id) AS rb,
         row_number() OVER (PARTITION BY lang
                            ORDER BY q ASC, doc_id DESC) AS rw
  FROM scored
)
SELECT b.lang,
       b.doc_id AS chosen_doc, w.doc_id AS rejected_doc,
       b.q AS chosen_q, w.q AS rejected_q,
       b.q - w.q AS margin
FROM (SELECT * FROM ranked WHERE rb <= 3) b
JOIN (SELECT * FROM ranked WHERE rw <= 3) w
  ON b.lang = w.lang AND b.rb = w.rw
WHERE b.q - w.q >= {_DPO_MARGIN} AND b.doc_id <> w.doc_id
ORDER BY b.lang, b.rb
""",
)
def preference_pairs_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF training-pair construction: within each prompt group
    (here: language), pair the k best documents with the k worst by a
    deterministic integer quality score (micro-scaled distinct-token
    ratio), gated on a minimum margin so near-ties never become
    training signal — the standard "chosen/rejected with confidence
    threshold" preparation step for preference-tuning datasets.

    Best-vs-worst matching is rank-aligned (1st best vs 1st worst,
    ...), the common anti-collapse heuristic.  All integer arithmetic:
    the pairs, order and margins are bit-identical cross-engine.

    100 TB shape: one scan computes scores (scan-stage projection);
    two windows per group (top-k and bottom-k prune to 2k rows per
    group BEFORE the self-join, so the join is k-vs-k per group, never
    corpus-sized); output is O(groups × k)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "doc_id", "lang", "source", f"{_SCORE_SQL_SPARK} AS q"
    )
    wb = Window.partitionBy("lang").orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    ww = Window.partitionBy("lang").orderBy(
        F.asc("q"), F.desc("doc_id")
    )
    ranked = scored.select(
        "lang",
        "doc_id",
        "q",
        F.row_number().over(wb).alias("rb"),
        F.row_number().over(ww).alias("rw"),
    )
    best = ranked.filter(F.col("rb") <= 3).select(
        "lang",
        F.col("doc_id").alias("chosen_doc"),
        F.col("q").alias("chosen_q"),
        F.col("rb").alias("r"),
    )
    worst = ranked.filter(F.col("rw") <= 3).select(
        "lang",
        F.col("doc_id").alias("rejected_doc"),
        F.col("q").alias("rejected_q"),
        F.col("rw").alias("r"),
    )
    return (
        best.join(worst, ["lang", "r"])
        .filter(
            (F.col("chosen_q") - F.col("rejected_q") >= _DPO_MARGIN)
            & (F.col("chosen_doc") != F.col("rejected_doc"))
        )
        .select(
            "lang",
            "chosen_doc",
            "rejected_doc",
            "chosen_q",
            "rejected_q",
            (F.col("chosen_q") - F.col("rejected_q")).alias("margin"),
        )
        .orderBy("lang", "r")
    )


# Pairwise outcomes: consecutive doc_ids within a language compete;
# the higher score wins (ties: the lower doc_id). Outcomes aggregate
# between the docs' SOURCES; self-matches (same source) drop.
_MATCHES_DUCK = f"""
scored AS (
  SELECT doc_id, lang, source, {_SCORE_SQL_DUCK} AS q FROM documents
), matches AS (
  SELECT a.source AS sa, b.source AS sb,
         CASE WHEN a.q > b.q OR (a.q = b.q AND a.doc_id < b.doc_id)
              THEN 1 ELSE 0 END AS a_wins
  FROM scored a JOIN scored b
    ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
  WHERE a.source <> b.source
)"""


def source_matches(docs: DataFrame) -> DataFrame:
    """(sa, sb, a_wins) pairwise outcomes between document SOURCES:
    consecutive doc_ids within a language compete on the integer
    quality score (ties: lower doc_id wins); same-source matches drop.
    Shared by the batch BT fit and the streaming stats twin."""
    scored = docs.selectExpr(
        "doc_id", "lang", "source", f"{_SCORE_SQL_SPARK} AS q"
    )
    a = scored.select(
        F.col("lang"),
        F.col("doc_id").alias("ida"),
        F.col("source").alias("sa"),
        F.col("q").alias("qa"),
    )
    b = scored.select(
        F.col("lang"),
        F.col("doc_id").alias("idb"),
        F.col("source").alias("sb"),
        F.col("q").alias("qb"),
    )
    return (
        a.join(b, (a["lang"] == b["lang"]) & (b["idb"] == a["ida"] + 1))
        .filter(F.col("sa") != F.col("sb"))
        .select(
            "sa",
            "sb",
            F.when(
                (F.col("qa") > F.col("qb"))
                | (
                    (F.col("qa") == F.col("qb"))
                    & (F.col("ida") < F.col("idb"))
                ),
                1,
            )
            .otherwise(0)
            .alias("a_wins"),
        )
    )



@register(
    "bradley_terry_mm_step",
    f"""
WITH {_MATCHES_DUCK},
wins AS (
  SELECT source,
         CAST(sum(w) AS BIGINT) AS w_i,
         CAST(sum(n) AS BIGINT) AS n_i
  FROM (
    SELECT sa AS source, a_wins AS w, 1 AS n FROM matches
    UNION ALL
    SELECT sb AS source, 1 - a_wins AS w, 1 AS n FROM matches
  ) GROUP BY source
),
pairn AS (
  SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_ij
  FROM (
    SELECT least(sa, sb) AS s1, greatest(sa, sb) AS s2 FROM matches
  ) GROUP BY s1, s2
),
-- MM step 1 from the uniform init pi=1: denominator is sum_j n_ij/2
pi1 AS (
  SELECT source, w_i, n_i,
         CAST(w_i AS DOUBLE) * 2 / CAST(n_i AS DOUBLE) AS p1
  FROM wins
),
-- MM step 2 uses pi1: denom_i = sum_j n_ij / (p1_i + p1_j)
den2 AS (
  SELECT i.source,
         sum(CAST(p.n_ij AS DOUBLE) / (i.p1 + j.p1)) AS d2
  FROM pi1 i
  JOIN pairn p ON i.source IN (p.s1, p.s2)
  JOIN pi1 j ON j.source = CASE WHEN p.s1 = i.source
                                THEN p.s2 ELSE p.s1 END
  GROUP BY i.source
)
SELECT w.source, w.w_i AS wins, w.n_i AS n_matches,
       round(p.p1, 6) + 0.0 AS pi_step1,
       round(CAST(w.w_i AS DOUBLE) / d.d2, 6) + 0.0 AS pi_step2
FROM wins w
JOIN pi1 p ON p.source = w.source
JOIN den2 d ON d.source = w.source
ORDER BY w.source
""",
)
def bradley_terry_mm_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference-strength fitting, two exact MM updates
    (Hunter 2004): pairwise outcomes between document SOURCES (derived
    deterministically — consecutive doc_ids within a language compete
    on the integer quality score) aggregate into win counts W_i and
    pair counts n_ij; then

        step 1 (uniform init π=1):  π¹_i = W_i / (Σ_j n_ij / 2)
        step 2:                     π²_i = W_i / Σ_j n_ij/(π¹_i+π¹_j)

    — the reward-model analogue of "fit strengths to human preference
    data".  The sufficient statistics (W_i, n_ij) are exact integers;
    the two updates are a handful of IEEE divisions per source, so
    both engines agree to 6 decimals.

    TOLERANCE CLASS (ADVICE r8): unlike the suff stats, step 2's
    denominator ``d2`` SUMS doubles (one term per opposing source), so
    its last ulp is aggregation-order dependent — with ≤ a handful of
    sources the sum is far from any round-6 boundary in practice
    (driver-green at every fixture; partition-invariance probed at 80k
    and 800k docs in tests/test_preference_scale.py), but the query is
    bit-exact only up to that caveat, NOT by the integer-statistics
    argument the rest of the family uses.  Same class:
    ``domain_mixture_mw_step``'s z and ``reward_calibration_ece``'s
    conf_sum/ece.

    100 TB shape: the match derivation is a self-join on
    (lang, doc_id+1) — a merge join on the natural sort order, one
    row per adjacent pair, never all-pairs; everything after operates
    on the (sources × sources) table, which is tiny at any corpus
    size.  More MM rounds would repeat step 2's O(sources²) block —
    driver-side loop over a broadcast-sized table, corpus untouched.

    OPTIMIZATION r15 (guide §2.3/§2.4): the match stream collapses to
    per-unordered-pair sufficient statistics (n_ij, w1) in ONE pass —
    the old shape consumed the corpus-sized ``matches`` three times
    (wins, pairn, and again transitively through pi1), which Catalyst
    re-derives per consumer (measured: 20 document scans / 131
    physical ops at sf0.001).  Every downstream table (wins, π¹, the
    step-2 denominator) now derives from the pinned pair table, whose
    size is bounded by sources² at any corpus scale.  Identical
    integers in, identical IEEE divisions out — hash-equal vs the
    unchanged oracle SQL."""
    docs = load_table(spark, sf_dir, "documents")
    matches = source_matches(docs)
    # ONE corpus pass: per-unordered-pair match count and s1-win count.
    # w1 (wins of the lexicographically smaller source) + n_ij fully
    # determine the per-side win/match sums below — same integers as
    # summing the match rows directly, in any order.
    pairs = pin(
        matches.groupBy(
            F.least("sa", "sb").alias("s1"),
            F.greatest("sa", "sb").alias("s2"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_ij"),
            F.sum(
                F.when(F.col("sa") < F.col("sb"), F.col("a_wins"))
                .otherwise(1 - F.col("a_wins"))
            ).cast("long").alias("w1"),
        ),
    )
    # expand each unordered pair to both directions, carrying that
    # side's win count; wins and the step-2 denominator both read this
    directed = pairs.select(
        F.col("s1").alias("source"),
        F.col("s2").alias("other"),
        "n_ij",
        F.col("w1").alias("w"),
    ).unionByName(
        pairs.select(
            F.col("s2").alias("source"),
            F.col("s1").alias("other"),
            "n_ij",
            (F.col("n_ij") - F.col("w1")).alias("w"),
        )
    )
    # per-source totals + MM step 1 (π¹ = 2·W_i / Σ_j n_ij), pinned:
    # consumed by both step-2 broadcasts and the final projection
    pi1 = pin(
        directed.groupBy("source")
        .agg(
            F.sum("w").cast("long").alias("w_i"),
            F.sum("n_ij").cast("long").alias("n_i"),
        )
        .select(
            "source",
            "w_i",
            "n_i",
            (
                F.col("w_i").cast("double") * 2
                / F.col("n_i").cast("double")
            ).alias("p1"),
        ),
    )
    jo = (
        directed.join(
            F.broadcast(pi1.select("source", "p1")), "source"
        )
        .join(
            F.broadcast(
                pi1.select(
                    F.col("source").alias("other"),
                    F.col("p1").alias("p1_other"),
                )
            ),
            "other",
        )
        .groupBy("source")
        .agg(
            F.sum(
                F.col("n_ij").cast("double")
                / (F.col("p1") + F.col("p1_other"))
            ).alias("d2")
        )
    )
    from oracle_vector_search_spark.functions.rounding import round_signed

    return (
        pi1.join(F.broadcast(jo), "source")
        .select(
            "source",
            F.col("w_i").alias("wins"),
            F.col("n_i").alias("n_matches"),
            round_signed(F.col("p1"), 6).alias("pi_step1"),
            round_signed(
                F.col("w_i").cast("double") / F.col("d2"), 6
            ).alias("pi_step2"),
        )
        .orderBy("source")
    )


@register(
    "preference_agreement_kappa",
    f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_SCORE_SQL_DUCK} AS q1,
         CAST(n_chars AS BIGINT) AS q2
  FROM documents
), pairs AS (
  SELECT CASE WHEN a.q1 > b.q1 OR (a.q1 = b.q1 AND a.doc_id < b.doc_id)
              THEN 1 ELSE 0 END AS l1,
         CASE WHEN a.q2 > b.q2 OR (a.q2 = b.q2 AND a.doc_id < b.doc_id)
              THEN 1 ELSE 0 END AS l2
  FROM scored a JOIN scored b
    ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l1 = 1 AND l2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n11,
         CAST(sum(CASE WHEN l1 = 1 AND l2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
         CAST(sum(CASE WHEN l1 = 0 AND l2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n01,
         CAST(sum(CASE WHEN l1 = 0 AND l2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n00
  FROM pairs
)
SELECT n, n11, n10, n01, n00,
       round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS p_observed,
       round((CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
              + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
             / (CAST(n AS DOUBLE) * n), 6) AS p_expected,
       round((CAST(n11 + n00 AS DOUBLE) / n
              - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                 + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                / (CAST(n AS DOUBLE) * n))
             / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                     + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                    / (CAST(n AS DOUBLE) * n)), 6) + 0.0 AS kappa
FROM cells
""",
)
def preference_agreement_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inter-annotator agreement audit for preference data: two
    deterministic "annotators" (the distinct-token-ratio score vs raw
    length) label the winner of every adjacent-doc match, and Cohen's
    kappa (Cohen 1960: (p_o − p_e)/(1 − p_e)) measures their
    chance-corrected agreement — the standard QA gate before pairwise
    labels become reward-model training data.  The 2×2 contingency is
    exact integers; kappa is a closed-form rational of them.

    100 TB shape: the adjacent-pair join is merge-join-shaped (sorted
    doc_id), the contingency a count-only full aggregate — one number
    per cell, no per-pair state survives the map side."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "doc_id",
        "lang",
        f"{_SCORE_SQL_SPARK} AS q1",
        "CAST(n_chars AS BIGINT) AS q2",
    )
    a = scored.select(
        "lang",
        F.col("doc_id").alias("ida"),
        F.col("q1").alias("q1a"),
        F.col("q2").alias("q2a"),
    )
    b = scored.select(
        "lang",
        F.col("doc_id").alias("idb"),
        F.col("q1").alias("q1b"),
        F.col("q2").alias("q2b"),
    )
    lab = a.join(
        b, (a["lang"] == b["lang"]) & (b["idb"] == a["ida"] + 1)
    ).select(
        F.when(
            (F.col("q1a") > F.col("q1b"))
            | ((F.col("q1a") == F.col("q1b")) & (F.col("ida") < F.col("idb"))),
            1,
        )
        .otherwise(0)
        .alias("l1"),
        F.when(
            (F.col("q2a") > F.col("q2b"))
            | ((F.col("q2a") == F.col("q2b")) & (F.col("ida") < F.col("idb"))),
            1,
        )
        .otherwise(0)
        .alias("l2"),
    )
    cells = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("l1") == 1) & (F.col("l2") == 1)).cast("long"))
        .cast("long")
        .alias("n11"),
        F.sum(((F.col("l1") == 1) & (F.col("l2") == 0)).cast("long"))
        .cast("long")
        .alias("n10"),
        F.sum(((F.col("l1") == 0) & (F.col("l2") == 1)).cast("long"))
        .cast("long")
        .alias("n01"),
        F.sum(((F.col("l1") == 0) & (F.col("l2") == 0)).cast("long"))
        .cast("long")
        .alias("n00"),
    )
    from oracle_vector_search_spark.functions.rounding import round_signed

    nd = F.col("n").cast("double")
    p_o = (F.col("n11") + F.col("n00")).cast("double") / nd
    p_e = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00"))
    ) / (nd * nd)
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(p_o, 6).alias("p_observed"),
        F.round(p_e, 6).alias("p_expected"),
        round_signed((p_o - p_e) / (F.lit(1) - p_e), 6).alias("kappa"),
    )


@register(
    "reward_calibration_ece",
    f"""
WITH scored AS (
  SELECT doc_id, lang, {_SCORE_SQL_DUCK} AS q FROM documents
), pairs AS (
  SELECT a.q AS qa, b.q AS qb,
         CASE WHEN a.q > b.q OR (a.q = b.q AND a.doc_id < b.doc_id)
              THEN 1 ELSE 0 END AS won,
         (10 * a.q) // (a.q + b.q) AS bin
  FROM scored a JOIN scored b
    ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
  WHERE a.q + b.q > 0
), bins AS (
  SELECT CAST(least(bin, 9) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_pairs,
         sum(CAST(qa AS DOUBLE) / (qa + qb)) AS conf_sum,
         CAST(sum(won) AS BIGINT) AS n_won
  FROM pairs GROUP BY least(bin, 9)
), tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS n FROM bins)
SELECT b.bin, b.n_pairs,
       round(b.conf_sum / b.n_pairs, 6) AS mean_confidence,
       round(CAST(b.n_won AS DOUBLE) / b.n_pairs, 6) AS win_rate,
       round(abs(b.conf_sum / b.n_pairs
                 - CAST(b.n_won AS DOUBLE) / b.n_pairs), 6) AS gap,
       round(sum(CAST(b2.n_pairs AS DOUBLE) / t.n
                 * abs(b2.conf_sum / b2.n_pairs
                       - CAST(b2.n_won AS DOUBLE) / b2.n_pairs)), 6)
         AS ece
FROM bins b CROSS JOIN tot t
JOIN bins b2 ON true
GROUP BY b.bin, b.n_pairs, b.conf_sum, b.n_won, t.n
ORDER BY b.bin
""",
)
def reward_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reward-model calibration audit: the Bradley-Terry-form predicted
    win probability p̂ = q_a/(q_a+q_b) (a RATIONAL of the integer
    quality scores — no logistic, so both engines agree exactly) is
    binned into deciles by INTEGER arithmetic (bin = ⌊10·q_a/(q_a+q_b)⌋
    via integer division — the bin boundaries are bit-exact), and each
    bin compares mean confidence against the empirical win rate of the
    same adjacent-doc matches the BT fit consumes.  The last column is
    the scalar expected calibration error Σ (n_b/N)·|conf_b − acc_b|
    (Naeini 2015), repeated per row the way the other audit artifacts
    denormalize their scalars.

    100 TB shape: the match join is merge-shaped; the reliability
    diagram is a 10-row count/sum aggregate; ECE folds over those 10
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "doc_id", "lang", f"{_SCORE_SQL_SPARK} AS q"
    )
    a = scored.select(
        "lang", F.col("doc_id").alias("ida"), F.col("q").alias("qa")
    )
    b = scored.select(
        "lang", F.col("doc_id").alias("idb"), F.col("q").alias("qb")
    )
    pairs = (
        a.join(b, (a["lang"] == b["lang"]) & (b["idb"] == a["ida"] + 1))
        .filter(F.col("qa") + F.col("qb") > 0)
        .select(
            "qa",
            "qb",
            F.when(
                (F.col("qa") > F.col("qb"))
                | (
                    (F.col("qa") == F.col("qb"))
                    & (F.col("ida") < F.col("idb"))
                ),
                1,
            )
            .otherwise(0)
            .alias("won"),
            F.least(
                F.expr("(10 * qa) div (qa + qb)"), F.lit(9)
            ).cast("long").alias("bin"),
        )
    )
    bins = pairs.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.col("qa").cast("double") / (F.col("qa") + F.col("qb"))
        ).alias("conf_sum"),
        F.sum("won").cast("long").alias("n_won"),
    )
    tot = bins.agg(F.sum("n_pairs").cast("long").alias("n"))
    gap = F.abs(
        F.col("conf_sum") / F.col("n_pairs")
        - F.col("n_won").cast("double") / F.col("n_pairs")
    )
    with_gap = bins.crossJoin(F.broadcast(tot)).withColumn(
        "wgap", F.col("n_pairs").cast("double") / F.col("n") * gap
    )
    ece = with_gap.agg(F.sum("wgap").alias("ece_raw"))
    return (
        with_gap.crossJoin(F.broadcast(ece))
        .select(
            "bin",
            "n_pairs",
            F.round(F.col("conf_sum") / F.col("n_pairs"), 6).alias(
                "mean_confidence"
            ),
            F.round(
                F.col("n_won").cast("double") / F.col("n_pairs"), 6
            ).alias("win_rate"),
            F.round(gap, 6).alias("gap"),
            F.round(F.col("ece_raw"), 6).alias("ece"),
        )
        .orderBy("bin")
    )


_BON_N = 4  # candidates per best-of-n group


@register(
    "best_of_n_selection_lift",
    f"""
WITH scored AS (
  SELECT doc_id, lang, doc_id // {_BON_N} AS grp,
         {_SCORE_SQL_DUCK} AS q
  FROM documents
), grouped AS (
  SELECT lang, grp,
         CAST(count(*) AS BIGINT) AS n_cand,
         CAST(max(q) AS BIGINT) AS best_q,
         sum(CAST(q AS DOUBLE)) AS sum_q
  FROM scored GROUP BY lang, grp
), full_groups AS (
  SELECT * FROM grouped WHERE n_cand = {_BON_N}
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_groups,
       round(avg(CAST(best_q AS DOUBLE)), 6) AS mean_best_q,
       round(sum(sum_q) / ({_BON_N} * count(*)), 6) AS mean_q,
       round(avg(CAST(best_q AS DOUBLE))
             - sum(sum_q) / ({_BON_N} * count(*)), 6) AS bon_lift
FROM full_groups
GROUP BY lang
ORDER BY lang
""",
)
def best_of_n_selection_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Best-of-n selection audit: documents bucket into groups of
    n={_BON_N} consecutive doc_ids ("n candidate generations per
    prompt"); per language it reports how much selecting the argmax by
    the reward proxy lifts quality over the group mean — the BoN
    sampling-policy measurement (Stiennon 2020 appendix form: lift =
    E[max of n] − E[mean of n], here exact over the realized groups
    rather than an order-statistic estimate).  Groups truncated by the
    corpus edge (fewer than n members) drop, so both engines see
    identical group populations.

    100 TB shape: one scan-stage integer projection, one
    (lang, group)-keyed partial-agg shuffle, one language rollup."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "doc_id",
        "lang",
        f"doc_id div {_BON_N} AS grp",
        f"{_SCORE_SQL_SPARK} AS q",
    )
    grouped = scored.groupBy("lang", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand"),
        F.max("q").cast("long").alias("best_q"),
        F.sum(F.col("q").cast("double")).alias("sum_q"),
    )
    full = grouped.filter(F.col("n_cand") == _BON_N)
    return (
        full.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.avg(F.col("best_q").cast("double")).alias("mb"),
            (
                F.sum("sum_q")
                / (F.lit(_BON_N) * F.count(F.lit(1)))
            ).alias("mq"),
        )
        .select(
            "lang",
            "n_groups",
            F.round(F.col("mb"), 6).alias("mean_best_q"),
            F.round(F.col("mq"), 6).alias("mean_q"),
            F.round(F.col("mb") - F.col("mq"), 6).alias("bon_lift"),
        )
        .orderBy("lang")
    )


@register(
    "preference_length_bias_audit",
    f"""
WITH scored AS (
  SELECT doc_id, lang, {_SCORE_SQL_DUCK} AS q,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS len
  FROM documents
), matches AS (
  SELECT a.lang,
         CASE WHEN a.q > b.q OR (a.q = b.q AND a.doc_id < b.doc_id)
              THEN a.len ELSE b.len END AS len_w,
         CASE WHEN a.q > b.q OR (a.q = b.q AND a.doc_id < b.doc_id)
              THEN b.len ELSE a.len END AS len_l
  FROM scored a JOIN scored b
    ON a.lang = b.lang AND b.doc_id = a.doc_id + 1
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN len_w > len_l THEN 1 ELSE 0 END) AS BIGINT)
         AS winner_longer,
       CAST(sum(CASE WHEN len_w < len_l THEN 1 ELSE 0 END) AS BIGINT)
         AS winner_shorter,
       CAST(sum(CASE WHEN len_w = len_l THEN 1 ELSE 0 END) AS BIGINT)
         AS equal_len,
       CAST(1000000 * sum(CASE WHEN len_w > len_l THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS longer_win_rate_micro,
       CAST(sum(len_w - len_l) AS BIGINT) AS len_delta_sum,
       round((2.0 * sum(CASE WHEN len_w > len_l THEN 1 ELSE 0 END)
              - (count(*) - sum(CASE WHEN len_w = len_l THEN 1 ELSE 0
                 END)))
             / sqrt(CAST(greatest(count(*) -
                 sum(CASE WHEN len_w = len_l THEN 1 ELSE 0 END), 1)
                 AS DOUBLE)), 6) + 0.0 AS sign_test_z
FROM matches
GROUP BY lang
ORDER BY lang
""",
)
def preference_length_bias_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-bias audit for preference data — the standard
    reward-model failure mode (longer responses win regardless of
    quality; cf. the verbosity-bias literature on RLHF reward
    hacking).  Over the same adjacent-doc matches the Bradley-Terry
    fit consumes: how often the quality-winner is also the LONGER
    document, the exact win-rate in micro-units, the summed length
    delta, and a sign-test z statistic over the non-tied pairs
    ((2W − N′)/√N′ — exact integers into one IEEE sqrt/divide, so
    bit-identical cross-engine; ties excluded per the standard sign
    test, denominator clamped for the all-ties group).

    100 TB shape: the pairing is the merge-join-shaped adjacent-id
    join (never all-pairs); everything after is one count-only shuffle
    on lang."""
    from oracle_vector_search_spark.functions.rounding import round_signed

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.selectExpr(
        "doc_id",
        "lang",
        f"{_SCORE_SQL_SPARK} AS q",
        "CAST(size(split(text, ' ')) AS BIGINT) AS len",
    )
    a = scored.select(
        "lang",
        F.col("doc_id").alias("ida"),
        F.col("q").alias("qa"),
        F.col("len").alias("la"),
    )
    b = scored.select(
        "lang",
        F.col("doc_id").alias("idb"),
        F.col("q").alias("qb"),
        F.col("len").alias("lb"),
    )
    a_wins = (F.col("qa") > F.col("qb")) | (
        (F.col("qa") == F.col("qb")) & (F.col("ida") < F.col("idb"))
    )
    m = (
        a.join(b, (a["lang"] == b["lang"]) & (b["idb"] == a["ida"] + 1))
        .select(
            a["lang"],
            F.when(a_wins, F.col("la")).otherwise(F.col("lb")).alias(
                "len_w"
            ),
            F.when(a_wins, F.col("lb")).otherwise(F.col("la")).alias(
                "len_l"
            ),
        )
    )
    longer = F.sum(
        F.when(F.col("len_w") > F.col("len_l"), 1).otherwise(0)
    )
    equal = F.sum(
        F.when(F.col("len_w") == F.col("len_l"), 1).otherwise(0)
    )
    agg = m.groupBy("lang").agg(
        F.count("*").alias("n_pairs"),
        longer.cast("bigint").alias("winner_longer"),
        F.sum(F.when(F.col("len_w") < F.col("len_l"), 1).otherwise(0))
        .cast("bigint")
        .alias("winner_shorter"),
        equal.cast("bigint").alias("equal_len"),
        F.sum(F.col("len_w") - F.col("len_l"))
        .cast("bigint")
        .alias("len_delta_sum"),
    )
    n_eff = F.greatest(
        F.col("n_pairs") - F.col("equal_len"), F.lit(1)
    ).cast("double")
    return agg.select(
        "lang",
        "n_pairs",
        "winner_longer",
        "winner_shorter",
        "equal_len",
        F.expr(
            "CAST(1000000 * winner_longer div n_pairs AS BIGINT)"
        ).alias("longer_win_rate_micro"),
        "len_delta_sum",
        round_signed(
            (
                2.0 * F.col("winner_longer")
                - (F.col("n_pairs") - F.col("equal_len"))
            )
            / F.sqrt(n_eff),
            6,
        ).alias("sign_test_z"),
    ).orderBy("lang")
