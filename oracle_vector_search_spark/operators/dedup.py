"""Deduplication operators for training-data pipelines.

Generalizes the reference's core competency (content-based similarity
over an indexed corpus, SURVEY.md §0/§2.7) into the dedup family a
100 TB text pipeline needs:

* ``exact_dedup`` — hash-groupBy, keep canonical min-id row. One
  shuffle on the content hash; at scale the hash is computed in the
  scan projection so the shuffle carries (hash, id) pairs only.
* ``minhash_near_dup`` — word-shingle MinHash signatures (per-row
  projection, no shuffle) → banded LSH bucket join (shuffle only on
  band keys; all-pairs never materializes) → exact Jaccard verification
  on candidates. The standard large-scale near-dedup recipe.
* ``simhash_near_dup`` — 28-bit SimHash fingerprints; candidate pairs
  from band buckets. With bands > max_hamming the banding is LOSSLESS
  (pigeonhole: d ≤ t differing bits can't touch all t+1 bands).
* ``ngram_jaccard_join`` — exact character-n-gram Jaccard within
  explicit blocking keys.
* embedding near-dup — ``operators.knn.similarity_join`` (cosine) /
  ``operators.ann`` (LSH-bucketed) cover the vector variant.

All computations use the portable md5-based hash family from
``functions.text`` so every operator is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.plans.ckpt import pin, unpin


def with_norm_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach norm / toks columns (canonical text form)."""
    return df.withColumn("norm", T.norm_text(text_col)).withColumn(
        "toks", F.split(F.col("norm"), " ")
    )


def span_grams(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Every positional word n-gram of every document:
    (id, pos, gram) — the span granularity between whole-document
    dedup (exact_dedup) and shingle-set dedup (minhash).

    Pure column ops: split → transform(sequence) → posexplode; the
    gram strings are born in the scan projection, so a downstream
    groupBy(gram) shuffles (gram, id) pairs only — the RefinedWeb /
    Falcon "repeated span" recipe at 100 TB. Documents shorter than
    ``n`` tokens emit no rows.
    """
    d = with_norm_tokens(df)
    grams = F.expr(
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(0, size(toks) - {n}), "
        f"i -> array_join(slice(toks, i + 1, {n}), ' ')) "
        "ELSE array() END"
    )
    return d.select(
        F.col(id_col), *[F.col(c) for c in extra_cols],
        F.posexplode(grams).alias("pos", "gram"),
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one canonical row (min id) per exact content hash.

    Returns (content_hash, keep_id, n_copies). Join back on keep_id for
    the surviving rows. Single shuffle on the 60-bit content hash."""
    h = F.expr(T.hash60_sql(text_col)).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document MinHash signature columns m0..m{J-1} plus the
    distinct shingle array (kept for exact-Jaccard verification)."""
    d = with_norm_tokens(df, text_col)
    d = d.withColumn(
        "shingles", F.expr(T.word_shingles_expr("toks", "norm"))
    ).withColumn("hs", F.expr(T.shingle_hashes_expr("shingles")))
    sig_cols = [
        F.expr(e).alias(f"m{j}")
        for j, e in enumerate(T.minhash_sig_exprs("hs"))
    ]
    return d.select(F.col(id_col), F.col("shingles"), *sig_cols)


def _band_key(prefix: int) -> F.Column:
    cols = [
        F.col(f"m{prefix * T.MINHASH_ROWS + r}") for r in range(T.MINHASH_ROWS)
    ]
    return F.concat_ws("-", *[c.cast("string") for c in cols])


def minhash_near_dup(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by banded MinHash LSH + exact Jaccard filter.

    Returns (left_id, right_id, jaccard) with jaccard ≥ threshold,
    left_id < right_id, deduped across bands. The only shuffles are the
    band-bucket self-joins (then a distinct on candidate pairs) — the
    quadratic pair space never materializes.

    Pass ``sigs`` (the output of ``minhash_signatures``, typically read
    back from a written signature table) to skip re-hashing ``df`` —
    the at-scale shape: signatures are computed once at ingest and live
    at rest; every dedup pass joins against that table."""
    if sigs is None:
        # signatures feed the band projection + 2 shingle joins —
        # persist so the (non-codegen) higher-order hash expressions
        # evaluate once per row, not 3x
        sigs = minhash_signatures(df, id_col, text_col).persist()
    # all 4 band keys in ONE projection, unrolled via posexplode
    keyed = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[_band_key(b) for b in range(T.MINHASH_BANDS)])
        ).alias("band", "band_key"),
    )

    l = keyed.select(
        F.col("band"), F.col("band_key"), F.col(id_col).alias("left_id")
    )
    r = keyed.select(
        F.col("band"), F.col("band_key"), F.col(id_col).alias("right_id")
    )
    cand = (
        l.join(r, ["band", "band_key"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .distinct()
    )

    sh = sigs.select(F.col(id_col), F.col("shingles"))
    pairs = (
        cand.join(
            sh.select(
                F.col(id_col).alias("left_id"), F.col("shingles").alias("sh_l")
            ),
            "left_id",
        )
        .join(
            sh.select(
                F.col(id_col).alias("right_id"),
                F.col("shingles").alias("sh_r"),
            ),
            "right_id",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_l", "sh_r"))
                * 1.0
                / F.size(F.array_union("sh_l", "sh_r")),
                6,
            ),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold).select(
        "left_id", "right_id", "jaccard"
    )


def minhash_near_dup_against(
    batch_sigs: DataFrame,
    standing_sigs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Directional near-dup: batch documents vs a STANDING corpus —
    the incremental-admission primitive. Returns
    (batch_id, standing_id, jaccard) with jaccard ≥ threshold.

    Both inputs are ``minhash_signatures`` outputs; at scale the
    standing side is the at-rest signature table (never re-hashed) and
    the batch side is hashed fresh — work proportional to the batch.
    The join carries (band, band_key) buckets only: a batch doc meets
    exactly the standing docs sharing a band bucket, never the corpus.
    """

    def keyed(sigs: DataFrame, out: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(out),
            F.posexplode(
                F.array(*[_band_key(b) for b in range(T.MINHASH_BANDS)])
            ).alias("band", "band_key"),
        )

    cand = (
        keyed(batch_sigs, "batch_id")
        .join(keyed(standing_sigs, "standing_id"), ["band", "band_key"])
        .select("batch_id", "standing_id")
        .distinct()
    )
    pairs = (
        cand.join(
            batch_sigs.select(
                F.col(id_col).alias("batch_id"),
                F.col("shingles").alias("sh_b"),
            ),
            "batch_id",
        )
        .join(
            standing_sigs.select(
                F.col(id_col).alias("standing_id"),
                F.col("shingles").alias("sh_s"),
            ),
            "standing_id",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_b", "sh_s"))
                * 1.0
                / F.size(F.array_union("sh_b", "sh_s")),
                6,
            ),
        )
    )
    return pairs.filter(F.col("jaccard") >= threshold).select(
        "batch_id", "standing_id", "jaccard"
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """28-bit SimHash fingerprint per document (token-hash majority)."""
    d = with_norm_tokens(df, text_col)
    d = d.withColumn(
        "hs", F.expr(T.shingle_hashes_expr("array_distinct(toks)"))
    )
    return d.select(
        F.col(id_col), F.expr(T.simhash_expr("hs")).alias("simhash")
    )


def simhash_near_dup(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    fps: DataFrame | None = None,
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_hamming via lossless
    band buckets (requires max_hamming < SIMHASH_BANDS).

    ``fps`` (columns ``id_col``, ``simhash``) supplies precomputed
    fingerprints — the at-rest shape: at 100 TB the fingerprint table
    is written once on ingest (4 bytes/doc) and every dedup pass reads
    it instead of re-running the majority-vote expression.
    """
    if max_hamming >= T.SIMHASH_BANDS:
        raise ValueError("banding is lossless only for hamming < bands")
    fp = (
        fps
        if fps is not None
        else simhash_fingerprints(df, id_col, text_col)
    ).persist()
    mask = (1 << T.SIMHASH_BAND_BITS) - 1
    bands = None
    for b in range(T.SIMHASH_BANDS):
        part = fp.select(
            F.col(id_col),
            F.col("simhash"),
            F.lit(b).alias("band"),
            (
                F.shiftright(F.col("simhash"), b * T.SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
            ).alias("band_key"),
        )
        bands = part if bands is None else bands.unionByName(part)

    l = bands.select(
        "band",
        "band_key",
        F.col(id_col).alias("left_id"),
        F.col("simhash").alias("fp_l"),
    )
    r = bands.select(
        "band",
        "band_key",
        F.col(id_col).alias("right_id"),
        F.col("simhash").alias("fp_r"),
    )
    return (
        l.join(r, ["band", "band_key"])
        .filter(F.col("left_id") < F.col("right_id"))
        .select(
            "left_id",
            "right_id",
            F.bit_count(
                F.col("fp_l").bitwiseXOR(F.col("fp_r"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def prefix_filter_jaccard_join(
    df: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact word-shingle Jaccard join via PPJoin-style prefix filtering
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection") — no blocking key needed, yet never all-pairs.

    Guarantee: order every document's shingle set by a GLOBAL total
    order (ascending document frequency, ties by shingle) and keep only
    the first ``n - ceil(t*n) + 1`` elements (the *prefix*). If
    ``J(A, B) >= t`` the two prefixes must share an element, so the
    prefix self-join yields a guaranteed SUPERSET of the true pairs;
    an exact set-overlap verification then filters it. The threshold is
    the rational ``threshold_num/threshold_den`` and every comparison is
    cross-multiplied integer arithmetic, so the result is exact and
    independent of partitioning.

    Scale shape: one shuffle to count document frequencies, one
    per-document window to rank (partitioned by id — never global), a
    self-equi-join on prefix shingles (rare shingles first ⇒ tiny
    candidate buckets), then an id-keyed join back to the set table for
    verification. At 100 TB this is the standard set-similarity-join
    layout; the candidate space degrades gracefully with corpus
    near-dup rate rather than corpus size.
    """
    num, den = threshold_num, threshold_den
    d = df.withColumn("norm", T.norm_text(text_col)).withColumn(
        "toks", T.tokens("norm")
    )
    sets = d.select(
        F.col(id_col).alias("__id"),
        F.expr(T.word_shingles_expr("toks", "norm")).alias("shingles"),
    ).withColumn("set_size", F.size("shingles"))

    ex = sets.select("__id", "set_size", F.explode("shingles").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("__id").orderBy(F.col("df").asc(), F.col("s").asc())
    # prefix length: n - ceil(t*n) + 1, with ceil via integer arithmetic
    pref = (
        ex.join(dfreq, "s")
        .withColumn("rk", F.row_number().over(w))
        .filter(
            F.col("rk")
            <= F.expr(
                f"set_size - (({num} * set_size + {den - 1}) DIV {den}) + 1"
            )
        )
        .select("__id", "s")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "s")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("left_id"), F.col("b.__id").alias("right_id")
        )
        .distinct()
    )
    lsets = sets.select(
        F.col("__id").alias("left_id"), F.col("shingles").alias("sh_l")
    )
    rsets = sets.select(
        F.col("__id").alias("right_id"), F.col("shingles").alias("sh_r")
    )
    return (
        cand.join(lsets, "left_id")
        .join(rsets, "right_id")
        .withColumn("inter", F.size(F.array_intersect("sh_l", "sh_r")))
        .withColumn("uni", F.size(F.array_union("sh_l", "sh_r")))
        .filter(F.col("inter") * den >= F.col("uni") * num)
        .select(
            "left_id",
            "right_id",
            F.round(F.col("inter") * 1.0 / F.col("uni"), 6).alias("jaccard"),
        )
    )


def ngram_jaccard_join(
    df: DataFrame,
    blocking_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact character-n-gram Jaccard similarity between documents that
    share a blocking key (e.g. source+lang). Blocking keeps the pair
    space linear-ish; the gram sets are per-row projections."""
    d = df.withColumn("norm", T.norm_text(text_col)).withColumn(
        "grams",
        F.expr(
            f"array_distinct(transform(sequence(1, "
            f"greatest(length(norm) - {n - 1}, 1)), "
            f"i -> substring(norm, i, {n})))"
        ),
    )
    l = d.select(
        *blocking_cols, F.col(id_col).alias("left_id"), F.col("grams").alias("g_l")
    )
    r = d.select(
        *blocking_cols,
        F.col(id_col).alias("right_id"),
        F.col("grams").alias("g_r"),
    )
    return (
        l.join(r, blocking_cols)
        .filter(F.col("left_id") < F.col("right_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("g_l", "g_r"))
                * 1.0
                / F.size(F.array_union("g_l", "g_r")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(*blocking_cols, "left_id", "right_id", "jaccard")
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    iterations: int = 3,
) -> DataFrame:
    """Canonical-document assignment: connected components over the
    near-duplicate pair graph, each doc labeled with the MIN id
    reachable within ``iterations`` hops (min-label propagation).

    Input: ``pairs(left_id, right_id)`` undirected edges, ``all_ids``
    the full corpus. Output: (doc_id, canonical_id) for every doc.

    Each iteration is one join + groupBy(min), checkpointed per round
    exactly like the fixpoint tier (OPTIMIZATION r15, guide §5):
    without the round pins, ``labels(k)`` references ``labels(k-1)``
    TWICE (own row + the neighbor-min join side), so Catalyst
    re-evaluated the label subtree 2^k times per run — measured 190
    physical ops / 10 SMJs on the 3-round consumers, and exponential
    corpus-id-sized replay at scale.

    Fault-tolerance trade (ADVICE r15): ``localCheckpoint`` truncates
    lineage, so after executor loss the labels are NOT recomputable —
    the job fails instead of replaying (acceptable for the bench/oracle
    contract and for nightly builds that simply re-run; a cluster
    deployment that must survive executor loss should use reliable
    ``checkpoint()`` with a checkpoint dir, at the cost of an HDFS
    write per round). Same trade applies to ``dedup_clusters_fixpoint``
    and every pinned loop."""
    edges = (
        pairs.select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        )
        .unionByName(
            pairs.select(
                F.col("right_id").alias("src"),
                F.col("left_id").alias("dst"),
            )
        )
        .distinct()
        .persist()  # referenced every iteration — don't recompute LSH 3x
    )
    # round 0 is a bare projection of the id column — its two round-1
    # consumers replay one pruned scan each, cheaper than a pin job
    # (unlike the fixpoint tier, which must pin every round because
    # its round count is unbounded)
    labels = all_ids.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("canonical_id")
    )
    for r in range(iterations):
        # each node adopts min(own label, neighbors' labels)
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("canonical_id").alias("nbr_label"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        prev, labels = labels, pin(  # truncate lineage: flat plan
            labels.join(
                neighbor_min,
                labels.node == neighbor_min.src,
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("canonical_id"),
                    F.coalesce(F.col("nbr_min"), F.col("canonical_id")),
                ).alias("canonical_id"),
            )
        )
        # the new round is materialized (eager checkpoint): the prior
        # round's blocks have no remaining consumer — release them now
        if r:
            unpin(prev)
    # labels no longer references edges (lineage truncated) — safe to
    # release the LSH cache instead of leaving it to ContextCleaner
    edges.unpersist()
    return labels.select(F.col("node").alias(id_col), "canonical_id")


def dedup_clusters_fixpoint(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
) -> DataFrame:
    """The 100 TB tier of ``dedup_clusters``: min-label propagation run
    to a FIXPOINT, not a fixed unroll — exact for any component whose
    diameter fits in ``max_iterations``. Each round is one join +
    groupBy(min); convergence is detected with a metadata-sized
    changed-labels count, and ``localCheckpoint`` truncates the growing
    lineage every round so the plan (and scheduler overhead) stays flat
    no matter how many rounds a deep component needs. The min label
    advances ONE hop per round, so a component of diameter D needs
    O(D) rounds (near-dup graphs are overwhelmingly shallow; raise
    ``max_iterations`` for pathological chains). If the cap is hit
    before the fixpoint, a RuntimeWarning is emitted and the (possibly
    unconverged) labels are returned."""
    edges = (
        pairs.select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        )
        .unionByName(
            pairs.select(
                F.col("right_id").alias("src"),
                F.col("left_id").alias("dst"),
            )
        )
        .distinct()
        .persist()
    )
    labels = pin(
        all_ids.select(
            F.col(id_col).alias("node"), F.col(id_col).alias("canonical_id")
        )
    )
    changed = -1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("canonical_id").alias("nbr_label"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        new_labels = pin(  # truncate lineage: flat plan
            labels.join(
                neighbor_min, labels.node == neighbor_min.src, "left"
            ).select(
                "node",
                F.col("canonical_id").alias("old_label"),
                F.least(
                    F.col("canonical_id"),
                    F.coalesce(F.col("nbr_min"), F.col("canonical_id")),
                ).alias("canonical_id"),
            )
        )
        # the new round is materialized (eager checkpoint): the prior
        # round's blocks have no remaining consumer — release them now
        # instead of waiting for ContextCleaner GC
        unpin(labels)
        changed = new_labels.filter(
            F.col("canonical_id") != F.col("old_label")
        ).count()
        labels = new_labels.drop("old_label")
        if changed == 0:
            break
    edges.unpersist()
    # the loop's final frame keeps its blocks (the caller consumes it)
    if changed != 0:
        import warnings

        warnings.warn(
            f"dedup_clusters_fixpoint hit max_iterations={max_iterations} "
            f"with {changed} labels still changing — canonical ids are NOT "
            "converged; raise max_iterations (component diameter exceeds "
            "the cap).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias(id_col), "canonical_id")
