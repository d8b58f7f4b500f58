"""Text-analysis column functions for the LLM-data-pipeline surface.

Everything here is a pure Spark SQL expression (no UDFs) built so the
SAME computation is expressible in DuckDB for the oracle gate:

* **Portable hashing.** Engines disagree on builtin hashes (Spark
  xxhash64 vs DuckDB hash), so the engine's deterministic hash is
  ``md5`` hex → integer: both engines produce identical lowercase hex;
  a 7-hex-digit prefix gives a 28-bit int that survives 64-bit
  universal-hash arithmetic ``(A*h + B) % P`` without overflow in
  either engine.
* **MinHash** (word 3-shingles): J independent permutations via
  universal hashing over the shingle base hash; signature = per-
  permutation minimum. Banded for LSH candidate generation.
* **SimHash**: 28-bit fingerprint from token hashes; near-dup =
  hamming distance ≤ t. Split into B > t bands and by pigeonhole any
  pair within distance t shares ≥1 exact band — banding is LOSSLESS.
* **Quality / language heuristics**: integer counts + exact ratios.

Scale notes: all of these are embarrassingly parallel per-row
projections (no shuffle); the joins they feed (LSH buckets) shuffle
only (band_key) groups, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ---- shared constants (inlined into BOTH Spark exprs and oracle SQL) ----
MINHASH_PERMS = 16  # J
MINHASH_BANDS = 4  # bands × rows = J
MINHASH_ROWS = MINHASH_PERMS // MINHASH_BANDS
MINHASH_P = 2147483647  # 2^31-1 (Mersenne prime)
# universal-hash coefficients, fixed + reproducible: a must be odd-ish > 0
MINHASH_A = [1000003 * (j + 1) + 7 for j in range(MINHASH_PERMS)]
MINHASH_B = [999983 * (j + 1) + 11 for j in range(MINHASH_PERMS)]

SIMHASH_BITS = 28
SIMHASH_BANDS = 4  # lossless for hamming ≤ 3
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "von"],
    "fr": ["le", "la", "les", "et", "est", "de"],
    "es": ["el", "la", "los", "y", "es", "de"],
}

FINGERPRINT_MOD = 1000000007
FINGERPRINT_MULT = 31


# -------------------------------------------------------------- Spark side
def norm_text(col: str = "text") -> Column:
    """Canonical text form: lowercase, whitespace collapsed, trimmed."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


def tokens(norm_col: str) -> Column:
    return F.split(F.col(norm_col), " ")


def hash28_sql(expr: str) -> str:
    """SQL fragment: 28-bit portable hash of a string expression.
    DuckDB twin: ``('0x' || substr(md5(x),1,7))::BIGINT``."""
    return f"cast(conv(substr(md5({expr}), 1, 7), 16, 10) as bigint)"


def hash60_sql(expr: str) -> str:
    """60-bit portable hash (for content fingerprints / band keys)."""
    return f"cast(conv(substr(md5({expr}), 1, 15), 16, 10) as bigint)"


def word_shingles_expr(toks: str, norm: str) -> str:
    """Spark SQL fragment: distinct word 3-shingles (whole text when < 3
    tokens). 1-based ``element_at`` to mirror DuckDB list indexing."""
    return (
        f"array_distinct(CASE WHEN size({toks}) < 3 THEN array({norm}) "
        f"ELSE transform(sequence(1, size({toks}) - 2), "
        f"i -> concat(element_at({toks}, i), ' ', "
        f"element_at({toks}, i + 1), ' ', element_at({toks}, i + 2))) END)"
    )


def shingle_hashes_expr(shingles: str) -> str:
    return f"transform({shingles}, s -> {hash28_sql('s')})"


def minhash_sig_exprs(hashes: str) -> list[str]:
    """One Spark SQL fragment per permutation j: min_s (A_j*h(s)+B_j) % P."""
    return [
        (
            f"array_min(transform({hashes}, "
            f"h -> ({MINHASH_A[j]}L * h + {MINHASH_B[j]}L) % {MINHASH_P}L))"
        )
        for j in range(MINHASH_PERMS)
    ]


def simhash_expr(hashes: str) -> str:
    """Spark SQL fragment: 28-bit SimHash fingerprint from token hashes."""
    return (
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), cast(0 as bigint), "
        f"(acc, i) -> acc + CASE WHEN aggregate({hashes}, cast(0 as bigint), "
        f"(a, h) -> a + CASE WHEN (shiftright(h, i) & 1) = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN shiftleft(cast(1 as bigint), i) "
        f"ELSE cast(0 as bigint) END)"
    )


def rolling_fingerprint_expr(norm: str) -> str:
    """Spark SQL fragment: polynomial rolling hash over characters,
    (acc*31 + ascii(c)) mod 1e9+7 — the document-fingerprint primitive."""
    return (
        f"aggregate(split({norm}, ''), cast(0 as bigint), "
        f"(acc, c) -> (acc * {FINGERPRINT_MULT} + ascii(c)) % {FINGERPRINT_MOD})"
    )


def stopword_hits_expr(toks: str, words: list[str]) -> str:
    """Spark SQL fragment: how many tokens are in the stopword list."""
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        f"size(filter({toks}, t -> array_contains(array({arr}), t)))"
    )


# fastText-style hashing-trick classifier: token weight =
# hash28('qc:'||t) % QC_WEIGHT_MOD - 1000 ∈ [-1000, 1000]; the doc
# logit is the integer weight sum (order-independent, engine-exact)
QC_WEIGHT_MOD = 2001


def qc_weight_sum_expr(toks: str) -> str:
    """Spark SQL fragment: integer classifier weight sum over tokens."""
    h = hash28_sql("concat('qc:', t)")
    return (
        f"aggregate({toks}, cast(0 as bigint), "
        f"(a, t) -> a + ({h} % {QC_WEIGHT_MOD}) - 1000)"
    )


# -------------------------------------------------------------- DuckDB side
def duck_hash28(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 7)) AS BIGINT)"


def duck_hash60(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def duck_norm(col: str = "text") -> str:
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def duck_shingles(toks: str, norm: str) -> str:
    return (
        f"list_distinct(CASE WHEN len({toks}) < 3 THEN [{norm}] "
        f"ELSE [{toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2] "
        f"for i in range(1, len({toks}) - 1)] END)"
    )


def duck_shingle_hashes(shingles: str) -> str:
    return f"[{duck_hash28('s')} for s in {shingles}]"


def duck_minhash_sigs(hashes: str) -> list[str]:
    return [
        (
            f"list_min([({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MINHASH_P} "
            f"for h in {hashes}])"
        )
        for j in range(MINHASH_PERMS)
    ]


def duck_simhash(hashes: str) -> str:
    # list_sum returns DOUBLE/HUGEINT — cast back to BIGINT to match Spark
    return (
        f"CAST(list_sum([CASE WHEN list_sum([CASE WHEN ((h >> i) & 1) = 1 "
        f"THEN 1 ELSE -1 END for h in {hashes}]) > 0 "
        f"THEN (CAST(1 AS BIGINT) << i) ELSE 0 END "
        f"for i in range(0, {SIMHASH_BITS})]) AS BIGINT)"
    )


def duck_rolling_fingerprint(norm: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CAST(ascii(c) AS BIGINT) for c in string_split({norm}, '')]), "
        f"(acc, c) -> (acc * {FINGERPRINT_MULT} + c) % {FINGERPRINT_MOD})"
    )


def duck_stopword_hits(toks: str, words: list[str]) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> list_contains([{arr}], t)))"


def duck_qc_weight_sum(toks: str) -> str:
    h = duck_hash28("'qc:' || t")
    return (
        f"CAST(list_sum([({h} % {QC_WEIGHT_MOD}) - 1000 for t in {toks}]) "
        f"AS BIGINT)"
    )
