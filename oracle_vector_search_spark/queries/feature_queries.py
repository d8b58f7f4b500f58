"""Feature-engineering oracle corpus — the per-row derived-signal
operators an ML training pipeline computes before writing feature
tables: ordered per-key rolling windows, equal-width binning against
global bounds, and exact z-score outlier flagging.

All determinism policies follow the engine convention: money/value
columns are integerized to cents, thresshold comparisons are
cross-multiplied integer (or decimal) arithmetic so no float boundary
can flip a row between engines, and every float score is rounded to 6
decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.functions import text as T
from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.topk import bounded_global_order
from oracle_vector_search_spark.plans.ckpt import pin
from oracle_vector_search_spark.queries import register

N_BINS = 10
ZSCORE_THRESHOLD = 3  # |z| > 3 flags an outlier


@register(
    "events_rolling_features",
    """
WITH e AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_id, user_id, cents AS value_cents,
       lag(cents) OVER w AS prev_cents,
       round(sum(cents) OVER w3 * 1.0 / count(*) OVER w3, 6) AS ma3_value,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
FROM e
WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
       w3 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
)
def events_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered rolling features: previous value, 3-event moving
    average, inter-event gap. The window is partitioned by ``user_id``
    (one shuffle on the key, no global sort) — the layout that scales to
    any number of users; skewed power-users are bounded by their own
    event counts, not the corpus. Order ties broken by ``event_id`` so
    both engines agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * 100).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w3 = w.rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.col("cents").alias("value_cents"),
        F.lag("cents").over(w).alias("prev_cents"),
        F.round(
            F.sum("cents").over(w3) * 1.0 / F.count("*").over(w3), 6
        ).alias("ma3_value"),
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    )


@register(
    "feature_binning_equal_width",
    f"""
WITH c AS (
  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), bounds AS (
  SELECT min(cents) AS min_c, max(cents) AS max_c FROM c
)
SELECT CAST((cents - min_c) * {N_BINS} // (max_c - min_c + 1) AS INTEGER)
         AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS lo_cents,
       CAST(max(cents) AS BIGINT) AS hi_cents,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM c CROSS JOIN bounds
GROUP BY 1
""",
)
def feature_binning_equal_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram binning of ``l_extendedprice`` into
    {N_BINS} bins against GLOBAL min/max. The bounds aggregate is a
    1-row broadcast cross join (never a collect); the bin id is pure
    integer arithmetic ``(c - min) * k div (max - min + 1)`` which lands
    in 0..k-1 exactly, so both engines agree with no float edges."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    bounds = li.agg(
        F.min("cents").alias("min_c"), F.max("cents").alias("max_c")
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bin",
            F.expr(
                f"cast((cents - min_c) * {N_BINS} DIV (max_c - min_c + 1)"
                " as int)"
            ),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.sum("cents").alias("sum_cents"),
        )
    )


@register(
    "event_value_zscore_outliers",
    f"""
WITH p AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS sum_c,
         CAST(sum(c * c) AS BIGINT) AS sum_c2
  FROM p GROUP BY event_type
)
SELECT p.event_id, p.event_type, p.c AS value_cents,
       round((p.n2 * 1.0) / sqrt(p.var2 * 1.0), 6) AS z
FROM (
  SELECT p.event_id, p.event_type, p.c,
         CAST(s.n AS HUGEINT) * p.c - s.sum_c AS n2,
         CAST(s.n AS HUGEINT) * s.sum_c2
           - CAST(s.sum_c AS HUGEINT) * s.sum_c AS var2
  FROM p JOIN s USING (event_type)
  WHERE s.n >= 2
) p
WHERE p.n2 * p.n2 > {ZSCORE_THRESHOLD * ZSCORE_THRESHOLD} * p.var2
""",
)
def event_value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact z-score outlier flags (|z| > {ZSCORE_THRESHOLD})
    over ``events.value`` grouped by ``event_type``.

    The flag predicate never touches a float: with integer moments
    ``S = sum(c)``, ``Q = sum(c^2)`` the condition ``|z| > t`` is
    ``(n*c - S)^2 > t^2 * (n*Q - S^2)`` (population variance), evaluated
    in decimal(38)/HUGEINT so it cannot overflow at any SF. Only the
    reported ``z`` value itself is float (both engines compute the
    identical expression and round to 6). Group stats are one partial
    aggregation broadcast back — no window, no global sort."""
    t2 = ZSCORE_THRESHOLD * ZSCORE_THRESHOLD
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    dec = "decimal(38,0)"
    joined = (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.col("n") >= 2)
        .withColumn(
            "n2",
            F.col("n").cast(dec) * F.col("c") - F.col("sum_c"),
        )
        .withColumn(
            "var2",
            F.col("n").cast(dec) * F.col("sum_c2")
            - F.col("sum_c").cast(dec) * F.col("sum_c"),
        )
    )
    return joined.filter(
        F.col("n2") * F.col("n2") > F.lit(t2) * F.col("var2")
    ).select(
        "event_id",
        "event_type",
        F.col("c").alias("value_cents"),
        F.round(
            F.col("n2").cast("double") / F.sqrt(F.col("var2").cast("double")),
            6,
        ).alias("z"),
    )


@register(
    "per_group_linear_fit",
    """
WITH b AS (
  SELECT event_type,
         CAST(epoch_ns(ts) // 1000 // 86400000000 AS BIGINT) AS x,
         CAST(floor(value * 100) AS BIGINT) AS y
  FROM events
),
m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM b GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
             6) AS intercept
FROM m
ORDER BY event_type
""",
)
def per_group_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-group OLS (value-cents vs event day): the raw
    moments accumulate as exact integers (DECIMAL(38)/HUGEINT where
    int64 would overflow at scale) and ONE final double formula
    computes slope/intercept from the identical five numbers in both
    engines — the engine-exact per-segment trend fit, same discipline
    as ``feature_correlation_exact``. One partial-agg shuffle on the
    group key; no per-row doubles ever sum."""
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        F.expr("ts_ns div 1000 div 86400000000").alias("x"),
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )

    def s(expr) -> F.Column:
        return F.sum(expr.cast("decimal(38,0)")).cast("double")

    m = b.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        s(F.col("x")).alias("sx"),
        s(F.col("y")).alias("sy"),
        s(F.col("x") * F.col("y")).alias("sxy"),
        s(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    ).orderBy("event_type")


@register(
    "mad_outlier_flags",
    """
WITH b AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
med AS (
  SELECT event_type, median(cents) AS med_cents FROM b GROUP BY event_type
),
dev AS (
  SELECT b.event_type, b.cents, abs(b.cents - m.med_cents) AS adev
  FROM b JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, median(adev) AS mad_cents FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(any_value(m2.med_cents), 1) AS median_cents,
       round(any_value(m2.mad_cents), 1) AS mad_cents,
       CAST(sum(CASE WHEN d.adev > 3 * m2.mad_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d
JOIN (SELECT med.event_type, med.med_cents, mad.mad_cents
      FROM med JOIN mad USING (event_type)) m2
  ON m2.event_type = d.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""",
)
def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier detection per group — the
    skew-immune complement to ``event_value_zscore_outliers``: medians
    over integer cents are exact (averaging two middle ints yields an
    exact .5 half in double), absolute deviations stay exact, and the
    3×MAD comparison is on those exact values — so even the outlier
    COUNTS hash-match the oracle. Two grouped medians + one broadcast
    join of the per-group statistics."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    med = e.groupBy("event_type").agg(F.median("cents").alias("med_cents"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad_cents"))
    stats = med.join(mad, "event_type")
    return (
        dev.join(F.broadcast(stats.select("event_type", "mad_cents")),
                 "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.any_value("med_cents"), 1).alias("median_cents"),
            F.round(F.any_value("mad_cents"), 1).alias("mad_cents"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad_cents")).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "equidepth_value_histogram",
    """
WITH b AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
t AS (
  SELECT event_type, cents,
         ntile(4) OVER (PARTITION BY event_type
                        ORDER BY cents, event_id) AS bucket
  FROM b
)
SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS lo_cents,
       CAST(max(cents) AS BIGINT) AS hi_cents
FROM t
GROUP BY event_type, bucket
ORDER BY event_type, bucket
""",
)
def equidepth_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quartiles by population, the complement of
    ``feature_binning_equal_width``'s equal-WIDTH bins): per event
    type, values split into 4 equal-count buckets with exact integer
    bounds — the bucket boundaries an optimizer or feature-binning
    stage derives from data distribution rather than range. ntile over
    a per-group window with an id tie-break is fully deterministic.

    The per-group window sorts within event_type partitions (5 groups
    here); at scale the two-phase rank tier (``ntile_distribution_
    scaled``) replaces the window the same way it does for the global
    ntile."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    t = e.withColumn("bucket", F.ntile(4).over(w))
    return (
        t.groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("event_type", "bucket")
    )


@register(
    "value_skew_kurtosis_exact",
    """
WITH b AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
),
m AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(c) AS DOUBLE) AS s1,
         CAST(sum(c * c) AS DOUBLE) AS s2,
         -- widen before the cubic/quartic products: c^4 exceeds int64
         -- per ROW once cents pass ~55k (seen at sf0.1)
         CAST(sum(((c * c)::HUGEINT) * c) AS DOUBLE) AS s3,
         CAST(sum(((c * c)::HUGEINT) * (c * c)) AS DOUBLE) AS s4
  FROM b GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) ^ 3)
             / ((s2 / n - (s1 / n) ^ 2) ^ 1.5), 6) AS skewness,
       round((s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * (s1 / n) ^ 2 * (s2 / n) - 3 * (s1 / n) ^ 4)
             / ((s2 / n - (s1 / n) ^ 2) ^ 2) - 3, 6) AS excess_kurtosis
FROM m
ORDER BY event_type
""",
)
def value_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact 3rd/4th standardized moments per group: raw power
    sums accumulate as exact integers (DECIMAL(38) — cents⁴ ≈ 1e16 per
    row already needs it beyond ~100 rows) and ONE final double
    formula produces skewness and excess kurtosis from the identical
    five numbers in both engines — the same discipline as
    ``feature_correlation_exact``/``per_group_linear_fit``, extended to
    the distribution-shape statistics a feature-quality monitor
    tracks. Spark's built-in ``skewness``/``kurtosis`` stream doubles
    and are order-dependent; this formulation is reproducible at any
    parallelism."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )

    def s(expr) -> F.Column:
        return F.sum(expr.cast("decimal(38,0)")).cast("double")

    c = F.col("c")
    # c² stays int64-safe per row; widen to decimal BEFORE the cubic/
    # quartic products — c⁴ exceeds int64 per ROW once cents pass ~55k
    # (seen at sf0.1)
    c2d = (c * c).cast("decimal(38,0)")
    m = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        s(c).alias("s1"),
        s(c * c).alias("s2"),
        s(c2d * c).alias("s3"),
        s(c2d * c2d).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(x) for x in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    var = s2 / n - mu * mu
    skew = (s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu) / F.pow(var, 1.5)
    kurt = (
        s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n)
        - 3 * mu * mu * mu * mu
    ) / (var * var) - 3
    return m.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    ).orderBy("event_type")


@register(
    "ab_test_event_value_z",
    """
WITH assigned AS (
  SELECT event_type,
         CAST(user_id % 2 AS INTEGER) AS variant,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), m AS (
  SELECT event_type, variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS ss
  FROM assigned GROUP BY event_type, variant
), wide AS (
  SELECT a.event_type,
         a.n AS n0, a.s AS s0, a.ss AS ss0,
         b.n AS n1, b.s AS s1, b.ss AS ss1
  FROM m a JOIN m b ON a.event_type = b.event_type
  WHERE a.variant = 0 AND b.variant = 1
)
SELECT event_type, n0, n1,
       round(s0 * 1.0 / n0, 6) AS mean0_cents,
       round(s1 * 1.0 / n1, 6) AS mean1_cents,
       round((s1 * 1.0 / n1 - s0 * 1.0 / n0)
             / sqrt((ss0 * 1.0 / n0 - (s0 * 1.0 / n0) * (s0 * 1.0 / n0))
                      / n0
                    + (ss1 * 1.0 / n1 - (s1 * 1.0 / n1) * (s1 * 1.0 / n1))
                      / n1),
             6) AS welch_z
FROM wide
ORDER BY event_type
""",
)
def ab_test_event_value_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic variant assignment
    (user_id % 2 — the hash-bucket assignment of a real experiment
    framework), per-metric Welch z-score between variants from EXACT
    integer moments (Σcents, Σcents² in BIGINT — order-independent),
    with one final double formula written identically in both engines
    (IEEE division/sqrt are correctly rounded, so the rounded z
    matches bit-for-bit).

    Scale shape: one partial-aggregating shuffle on (event_type,
    variant) — moments are tiny monoids, the same pattern as
    hourly_agg_partial_merge; the variant pivot and formula run on a
    metadata-sized table.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    m = e.groupBy("event_type", "variant").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    a = m.filter(F.col("variant") == 0).select(
        "event_type",
        F.col("n").alias("n0"), F.col("s").alias("s0"),
        F.col("ss").alias("ss0"),
    )
    b = m.filter(F.col("variant") == 1).select(
        "event_type",
        F.col("n").alias("n1"), F.col("s").alias("s1"),
        F.col("ss").alias("ss1"),
    )
    w = a.join(b, "event_type")
    mean0 = F.col("s0") * 1.0 / F.col("n0")
    mean1 = F.col("s1") * 1.0 / F.col("n1")
    var0 = F.col("ss0") * 1.0 / F.col("n0") - mean0 * mean0
    var1 = F.col("ss1") * 1.0 / F.col("n1") - mean1 * mean1
    z = (mean1 - mean0) / F.sqrt(var0 / F.col("n0") + var1 / F.col("n1"))
    return w.select(
        "event_type",
        "n0",
        "n1",
        F.round(mean0, 6).alias("mean0_cents"),
        F.round(mean1, 6).alias("mean1_cents"),
        F.round(z, 6).alias("welch_z"),
    ).orderBy("event_type")


@register(
    "events_user_ewma",
    """
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), seq AS (
  SELECT user_id,
         list(CAST(cents AS DOUBLE) ORDER BY ts, event_id) AS xs
  FROM e GROUP BY user_id
)
SELECT user_id,
       CAST(len(xs) AS INTEGER) AS n_events,
       round(list_reduce(list_prepend(0.0::DOUBLE, xs),
                         (acc, x) -> acc / 2 + x / 2), 6) AS ewma_cents
FROM seq
""",
)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (α = 1/2) — the
    order-DEPENDENT sequential fold class of time-series features.
    Determinism does not come from order-independence here (it can't):
    both engines fold the SAME explicit order (ts, event_id), and
    IEEE arithmetic applied in identical order is bit-identical, so
    the rounded result still hash-matches. α = 1/2 keeps every step a
    halving (exponent shift) plus one correctly-rounded add.

    Scale shape: one groupBy(user) shuffle carrying (ts-key, cents)
    pairs; per-user history is session-bounded in this fixture. An
    unbounded-history deployment computes the same fold incrementally
    (EWMA merges: acc' = acc/2ᵏ + new-window fold) or via the
    streaming stateful path (streaming/ops.py) — the semantics pinned
    here are what those must reproduce.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    seq = e.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "cents"))
        ).alias("es")
    )
    return seq.select(
        "user_id",
        F.size("es").alias("n_events"),
        F.round(
            F.expr(
                "aggregate(es, cast(0.0 as double), "
                "(acc, e) -> acc / 2 + cast(e.cents as double) / 2)"
            ),
            6,
        ).alias("ewma_cents"),
    )


_CUSUM_DRIFT = 25000  # cents — allowed per-event drift above target
_CUSUM_ALARM = 100000  # cents — cumulative excursion that trips the alarm


@register(
    "events_user_cusum",
    f"""
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
), seq AS (
  SELECT user_id,
         list(cents ORDER BY ts, event_id) AS xs
  FROM e GROUP BY user_id
)
SELECT user_id,
       CAST(len(xs) AS INTEGER) AS n_events,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), xs),
                        (acc, x) -> greatest(CAST(0 AS BIGINT),
                                             acc + x - {_CUSUM_DRIFT}))
            AS BIGINT) AS cusum_cents,
       CAST(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), xs),
                        (acc, x) -> greatest(CAST(0 AS BIGINT),
                                             acc + x - {_CUSUM_DRIFT}))
                      > {_CUSUM_ALARM}
                 THEN 1 ELSE 0 END AS INTEGER) AS alarm
FROM seq
""",
)
def events_user_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM (Page 1954) — sequential changepoint
    statistic: acc' = max(0, acc + x − drift), alarm when the
    cumulative excursion exceeds the threshold. Pure BIGINT fold over
    the explicit (ts, event_id) order — exact in both engines, no
    float anywhere.

    Same scale shape and incremental story as ``events_user_ewma``;
    CUSUM additionally merges trivially across ordered chunks (the
    fold is associative over segment summaries (total, max-prefix)).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    seq = e.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "cents"))
        ).alias("es")
    )
    fold = (
        "aggregate(es, cast(0 as bigint), "
        f"(acc, e) -> greatest(cast(0 as bigint), "
        f"acc + e.cents - {_CUSUM_DRIFT}))"
    )
    return seq.select(
        "user_id",
        F.size("es").alias("n_events"),
        F.expr(fold).cast("bigint").alias("cusum_cents"),
        F.when(F.expr(fold) > _CUSUM_ALARM, 1)
        .otherwise(0)
        .cast("int")
        .alias("alarm"),
    )


@register(
    "golden_record_survivorship",
    """
WITH e AS (
  SELECT user_id, event_id,
         epoch_ns(ts) // 1000 AS ts_us,
         CASE WHEN event_id % 7 = 0 THEN NULL
              ELSE CAST(floor(value * 100) AS BIGINT) END AS cents,
         CASE WHEN event_id % 11 = 0 THEN NULL
              ELSE event_type END AS etype
  FROM events
), k AS (
  SELECT *,
         CAST(ts_us AS HUGEINT) * 10000000 + event_id % 10000000 AS ord
  FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(cents) AS BIGINT) AS n_value_obs,
       arg_max(cents, CASE WHEN cents IS NOT NULL THEN ord END)
         AS latest_cents,
       CAST(max(CASE WHEN cents IS NOT NULL THEN ts_us END) AS BIGINT)
         AS latest_cents_ts_us,
       arg_max(etype, CASE WHEN etype IS NOT NULL THEN ord END)
         AS latest_type,
       CAST(min(ts_us) AS BIGINT) AS first_seen_us
FROM k
GROUP BY user_id
""",
)
def golden_record_survivorship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Golden-record survivorship (the MDM consolidation rule): per
    entity, each field's surviving value is the LATEST NON-NULL
    observation — independently per field, so a recent record with a
    missing field never erases an older observed value. Nulls are
    planted deterministically (event_id mod 7 / mod 11) so both
    engines see identical missingness. The recency key is
    ts_us·10⁷ + event_id mod 10⁷ in DECIMAL(38)/HUGEINT — total order
    with an id tie-break, overflow-proof — and the null-guard lives in
    the ORDERING argument (``max_by(x, CASE WHEN x IS NOT NULL THEN
    ord END)``): engines disagree on null-ARG handling in
    max_by/arg_max, but both skip null ORDERING rows, so the guarded
    form is portable.

    Scale: one partial-agg shuffle on the entity key; every
    survivorship rule is a monoid (max_by merges associatively), so
    this is also the incremental-merge shape (the
    ``hourly_agg_partial_merge`` story)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.expr(
            "CASE WHEN event_id % 7 = 0 THEN NULL "
            "ELSE cast(floor(value * 100) as bigint) END"
        ).alias("cents"),
        F.expr(
            "CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END"
        ).alias("etype"),
    ).withColumn(
        "ord",
        F.expr(
            "cast(ts_us as decimal(38,0)) * 10000000 "
            "+ event_id % 10000000"
        ),
    )
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count("cents").alias("n_value_obs"),
        F.expr(
            "max_by(cents, CASE WHEN cents IS NOT NULL THEN ord END)"
        ).alias("latest_cents"),
        F.max(
            F.when(F.col("cents").isNotNull(), F.col("ts_us"))
        ).alias("latest_cents_ts_us"),
        F.expr(
            "max_by(etype, CASE WHEN etype IS NOT NULL THEN ord END)"
        ).alias("latest_type"),
        F.min("ts_us").alias("first_seen_us"),
    )


@register(
    "user_event_diversity_simpson",
    """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_i
  FROM events GROUP BY user_id, event_type
), agg AS (
  SELECT user_id,
         CAST(sum(n_i) AS BIGINT) AS n,
         CAST(sum(n_i * n_i) AS BIGINT) AS sum_sq,
         CAST(count(*) AS BIGINT) AS n_types
  FROM c GROUP BY user_id
)
SELECT user_id, n AS n_events, n_types,
       CAST(1000000 - (1000000 * sum_sq) // (n * n) AS BIGINT)
         AS simpson_micro
FROM agg
""",
)
def user_event_diversity_simpson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral diversity per user as the Simpson index
    1 − Σ(nᵢ/n)² — the log-free entropy substitute (repo policy: no
    cross-libm ln), emitted in exact integer micro-units via
    ``1e6 − (1e6·Σnᵢ²) div n²``: 0 = every event the same type, →1 =
    evenly spread over many types. No float anywhere, so the index is
    identical on every engine and partitioning.

    Scale: two chained partial aggregations on the same user key — the
    second input is (user × type)-sized, and both ride one shuffle
    lineage."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_i")
    )
    agg = c.groupBy("user_id").agg(
        F.sum("n_i").alias("n"),
        F.sum(F.col("n_i") * F.col("n_i")).alias("sum_sq"),
        F.count("*").alias("n_types"),
    )
    return agg.select(
        "user_id",
        F.col("n").alias("n_events"),
        "n_types",
        F.expr(
            "cast(1000000 - (1000000 * sum_sq) div (n * n) as bigint)"
        ).alias("simpson_micro"),
    )


# ------------------------------------------------ Benford first-digit audit
@register(
    "value_benford_audit",
    """
WITH pos AS (
  SELECT value FROM events WHERE value > 0
), d AS (
  SELECT CAST(floor(value / power(10, floor(log10(value)))) AS INTEGER)
           AS digit
  FROM pos
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS total FROM d
)
SELECT digit,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(n.total * log10(1.0 + 1.0 / digit) * 1000)
            AS BIGINT) AS benford_expect_milli
FROM d, n
GROUP BY digit, n.total
ORDER BY digit
""",
)
def value_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over event values —
    the classic fabricated-data / unit-mixup screen a pipeline runs on
    numeric feeds. The digit is derived NUMERICALLY
    (floor(v / 10^floor(log10 v))), never via double→string formatting
    (engines disagree on float rendering, not on IEEE arithmetic);
    counts are exact integers and the Benford expectation n·log10(1+1/d)
    is emitted as a floor-milli integer. One scan + one 9-group
    aggregation — nothing leaves the map side but 9 partial counts."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    d = ev.selectExpr(
        "cast(floor(value / power(10, floor(log10(value)))) as int)"
        " AS digit"
    )
    n = d.agg(F.count("*").cast("long").alias("total"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_events"))
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "digit",
            "n_events",
            "cast(floor(total * log10(1.0 + 1.0 / digit) * 1000)"
            " as bigint) AS benford_expect_milli",
        )
        .orderBy("digit")
    )


# ------------------------------- deterministic bootstrap CI (Poisson(1))
_BOOT_B = 200
# cumulative Poisson(1) thresholds for k = 0..4; the tail mass lands on 5
_POIS = (
    "CASE WHEN u < 0.36787944117144233 THEN 0 "
    "WHEN u < 0.7357588823428847 THEN 1 "
    "WHEN u < 0.9196986029286058 THEN 2 "
    "WHEN u < 0.9810118431238462 THEN 3 "
    "WHEN u < 0.9963401531726563 THEN 4 ELSE 5 END"
)


@register(
    "bootstrap_mean_ci_deterministic",
    f"""
WITH base AS (
  SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS vc
  FROM events WHERE event_type = 'purchase'
), expanded AS (
  -- one md5 per (event, block) feeds FOUR resamples: lanes read
  -- disjoint 7-hex windows of the same digest (28 of 32 hex chars)
  SELECT blk.blk * 4 + lane.lane + 1 AS b, base.vc,
         ('0x' || substr(md5(CAST(base.event_id AS VARCHAR) || ':' ||
             CAST(blk.blk AS VARCHAR)), 1 + 7 * lane.lane, 7))::BIGINT
           / 268435456.0 AS u
  FROM base,
       (SELECT unnest(range(0, {_BOOT_B // 4})) AS blk) blk,
       (SELECT unnest(range(0, 4)) AS lane) lane
), weighted AS (
  SELECT b, vc, {_POIS} AS w FROM expanded
), means AS (
  SELECT b,
         CAST(floor(sum(w * vc) * 1000.0 / sum(w)) AS BIGINT)
           AS mean_milli
  FROM weighted GROUP BY b HAVING sum(w) > 0
), sorted AS (
  SELECT list_sort(list(mean_milli)) AS ms FROM means
), full_mean AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(floor(sum(vc) * 1000.0 / count(*)) AS BIGINT)
           AS mean_milli
  FROM base
)
SELECT f.n, CAST({_BOOT_B} AS INTEGER) AS n_resamples, f.mean_milli,
       s.ms[5] AS ci_lo_milli, s.ms[{_BOOT_B} - 4] AS ci_hi_milli,
       s.ms[5] <= f.mean_milli AND f.mean_milli <= s.ms[{_BOOT_B} - 4]
         AS ci_covers_mean
FROM full_mean f, sorted s
""",
)
def bootstrap_mean_ci_deterministic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean purchase value, fully
    DETERMINISTIC: each resample weight is Poisson(1) drawn through a
    portable-hash uniform and an inverse-CDF CASE chain — no rand(), so
    both engines produce bit-identical resamples.  Hash economics: one
    md5 digest per (event, block) feeds FOUR resamples via disjoint
    7-hex windows (u_b = hex[1+7·lane .. ]/2^28, b = 4·blk+lane+1), so
    the dominant cost is B/4 digests per event, not B (the
    online-bootstrap trick: Poisson(1) weights
    approximate multinomial resampling and need NO coordination across
    rows — the property that makes bootstrap feasible on a 100 TB
    stream, cf. Owen & Eckles 2012). Resample means are exact
    floor-milli integers; the CI is the 2.5%/97.5% order statistics of
    the B=200 sorted means.

    Scale: the B× expansion rides one explode + one (b)-keyed
    aggregation — B partial sums per partition, map-side combined; the
    order-statistic step touches only B rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    # hash-spread the filtered base BEFORE the B-fold explode: the
    # survivors of a selective filter otherwise sit in one or two scan
    # partitions and the x200 expansion runs nearly serial (a tiny
    # keyed shuffle buys full-width parallelism for the heavy stage;
    # at real input widths this is a no-op cost).
    # OPTIMIZATION r15 (guide §2.5, round rule on local-tuned
    # constants): the width was a hard-coded 32 — the local core
    # count — which would CAP the heavy explode stage at 32 tasks on
    # any larger cluster; defaultParallelism follows the session's
    # actual core budget on every deployment.
    proj = ev.select(
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("vc"),
    )
    base = proj.repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    # Stage the two explodes so the digest is computed once per
    # (event, block) row — each md5 feeds four resample lanes reading
    # disjoint 7-hex windows, quartering the hash work (the dominant
    # cost: B/4 digests per event instead of B).
    expanded = (
        base.selectExpr(
            "vc",
            "event_id",
            f"explode(sequence(0, {_BOOT_B // 4 - 1})) AS blk",
        )
        .selectExpr(
            "vc",
            "blk",
            "md5(concat(cast(event_id as string), ':',"
            " cast(blk as string))) AS h",
        )
        .selectExpr(
            "vc",
            "blk",
            "h",
            "explode(sequence(0, 3)) AS lane",
        )
        .selectExpr(
            "blk * 4 + lane + 1 AS b",
            "vc",
            "cast(conv(substr(h, 1 + 7 * lane, 7), 16, 10) as bigint)"
            " / 268435456.0 AS u",
        )
    )
    weighted = expanded.selectExpr("b", "vc", f"{_POIS} AS w")
    means = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("vc")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .selectExpr(
            "cast(floor(swv * 1000.0 / sw) as bigint) AS mean_milli"
        )
    )
    sorted_ms = means.agg(
        F.array_sort(F.collect_list("mean_milli")).alias("ms")
    )
    # the exact mean needs no particular partitioning — read the
    # un-repartitioned projection so the second consumer skips the
    # spread exchange (r15: one corpus-sized shuffle removed)
    full_mean = proj.agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            "cast(floor(sum(vc) * 1000.0 / count(*)) as bigint)"
        ).alias("mean_milli"),
    )
    return full_mean.crossJoin(F.broadcast(sorted_ms)).selectExpr(
        "n",
        f"cast({_BOOT_B} as int) AS n_resamples",
        "mean_milli",
        "element_at(ms, 5) AS ci_lo_milli",
        f"element_at(ms, {_BOOT_B} - 4) AS ci_hi_milli",
        "element_at(ms, 5) <= mean_milli AND mean_milli <="
        f" element_at(ms, {_BOOT_B} - 4) AS ci_covers_mean",
    )


_PSI_BINS = 10  # fixed equal-width bins over the reference half


@register(
    "psi_value_drift",
    f"""
WITH e AS (
  SELECT event_type, epoch_ns(ts) // 1000 AS ts_us,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), mid AS (
  SELECT (min(ts_us) + max(ts_us)) // 2 AS m FROM e
), ref AS (
  SELECT event_type, c FROM e, mid WHERE ts_us <= m
), cur AS (
  SELECT event_type, c FROM e, mid WHERE ts_us > m
), rng AS (
  SELECT event_type, min(c) AS mn, max(c) AS mx,
         CAST(count(*) AS BIGINT) AS n_ref
  FROM ref GROUP BY event_type
), curn AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cur
  FROM cur GROUP BY event_type
), rbin AS (
  SELECT r.event_type,
         least({_PSI_BINS - 1}, greatest(0,
           (r.c - g.mn) * {_PSI_BINS} // (g.mx - g.mn + 1))) AS b,
         CAST(count(*) AS BIGINT) AS k
  FROM ref r JOIN rng g ON g.event_type = r.event_type
  GROUP BY 1, 2
), cbin AS (
  SELECT r.event_type,
         least({_PSI_BINS - 1}, greatest(0,
           (r.c - g.mn) * {_PSI_BINS} // (g.mx - g.mn + 1))) AS b,
         CAST(count(*) AS BIGINT) AS k
  FROM cur r JOIN rng g ON g.event_type = r.event_type
  GROUP BY 1, 2
), bins AS (
  SELECT g.event_type, u.b, g.n_ref, cn.n_cur
  FROM rng g
  JOIN curn cn ON cn.event_type = g.event_type
  CROSS JOIN (SELECT unnest(range({_PSI_BINS})) AS b) u
), terms AS (
  SELECT bins.event_type, bins.n_ref, bins.n_cur,
         (coalesce(rb.k, 0) + 1.0) / (bins.n_ref + {_PSI_BINS}.0) AS p,
         (coalesce(cb.k, 0) + 1.0) / (bins.n_cur + {_PSI_BINS}.0) AS q
  FROM bins
  LEFT JOIN rbin rb
    ON rb.event_type = bins.event_type AND rb.b = bins.b
  LEFT JOIN cbin cb
    ON cb.event_type = bins.event_type AND cb.b = bins.b
)
SELECT event_type, n_ref, n_cur,
       round(sum((p - q) * ln(p / q)), 6) AS psi
FROM terms GROUP BY event_type, n_ref, n_cur
""",
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second halves
    of the event stream (split at the integer midpoint timestamp), per
    event type — the standard production drift monitor for a model
    input. Binning is integer-exact: value→cents, 10 equal-width bins
    over the reference half's [min,max] via integer division, cur
    values clamped into [0,9]; Laplace (+1) smoothing keeps every bin
    nonzero so ln is total. Only the final Σ(p−q)·ln(p/q) is IEEE
    double (same policy as the HLL estimator and PageRank: exact
    integer counts in, one rounded double formula out).

    Scale shape: two count-only shuffles (per-type range/counts, then
    per-(type,bin) counts); the 10-bin PSI fold is per-type-sized.
    At 100 TB the binning rides the scan and nothing text- or
    row-sized ever reaches the driver.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    mid = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("m")
    )
    # The ONLY corpus-sized shuffle: per-(type, half, cents) counts.
    # Every downstream stat (ranges, totals, bins) derives from this
    # value-domain-sized table. localCheckpoint pins it (the dedup-
    # fixpoint pattern) — without it Catalyst re-derives the subtree
    # per consumer and the corpus is scanned 6× (measured 16-scan,
    # 23-exchange plan); with it the events table is read exactly
    # twice (midpoint agg + grouped counts).
    g = pin(
        ev.crossJoin(F.broadcast(mid))
        .groupBy(
            "event_type",
            (F.col("ts_us") > F.col("m")).alias("is_cur"),
            "c",
        )
        .agg(F.count(F.lit(1)).alias("k")),
    )
    # OPTIMIZATION r15 (guide §2.3, aggregate once with conditionals):
    # the old shape read the pinned half-counts table SIX times (ref
    # range, cur total, ref bins, cur bins — each its own shuffle;
    # measured 6 exchanges / 59 physical ops). One conditional
    # aggregation yields both halves' stats, and one (type, bin)
    # aggregation yields both halves' bin counts — 4 count-sized
    # shuffles fold to 2, identical integer counts out.
    stats = g.groupBy("event_type").agg(
        F.min(F.when(~F.col("is_cur"), F.col("c"))).alias("mn"),
        F.max(F.when(~F.col("is_cur"), F.col("c"))).alias("mx"),
        F.sum(F.when(~F.col("is_cur"), F.col("k"))).alias("n_ref"),
        F.sum(F.when(F.col("is_cur"), F.col("k"))).alias("n_cur"),
    )
    binc = (
        # mn/mx are ref-half aggregates, so a cur-only type carries NULL
        # mn/mx; restrict binning to ref-present types EXPLICITLY rather
        # than relying on least/greatest NULL-skipping to clamp b for
        # rows the both-halves filter below drops anyway (ADVICE r15).
        # Same rows out: binc rows for ref-absent types were never
        # consumed (bins requires n_ref AND n_cur non-null).
        g.join(F.broadcast(stats.filter(F.col("mn").isNotNull())
                           .select("event_type", "mn", "mx")),
               "event_type")
        .select(
            "event_type",
            "is_cur",
            F.least(
                F.lit(_PSI_BINS - 1),
                F.greatest(
                    F.lit(0),
                    F.expr(
                        f"(c - mn) * {_PSI_BINS} div (mx - mn + 1)"
                    ),
                ),
            ).alias("b"),
            "k",
        )
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.when(~F.col("is_cur"), F.col("k"))).alias("rk"),
            F.sum(F.when(F.col("is_cur"), F.col("k"))).alias("ck"),
        )
    )
    # only types present in BOTH halves (the old rng ⋈ curn inner join)
    bins = (
        stats.filter(
            F.col("n_ref").isNotNull() & F.col("n_cur").isNotNull()
        )
        .crossJoin(
            spark.range(_PSI_BINS).select(F.col("id").alias("b"))
        )
        .select("event_type", "b", "n_ref", "n_cur")
    )
    terms = (
        bins.join(binc, ["event_type", "b"], "left")
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            (
                (F.coalesce("rk", F.lit(0)) + F.lit(1.0))
                / (F.col("n_ref") + F.lit(float(_PSI_BINS)))
            ).alias("p"),
            (
                (F.coalesce("ck", F.lit(0)) + F.lit(1.0))
                / (F.col("n_cur") + F.lit(float(_PSI_BINS)))
            ).alias("q"),
        )
    )
    return terms.groupBy("event_type", "n_ref", "n_cur").agg(
        F.round(
            F.sum(
                (F.col("p") - F.col("q"))
                * F.log(F.col("p") / F.col("q"))
            ),
            6,
        ).alias("psi")
    )


# SPRT (Wald sequential probability ratio test) constants: H0 p=0.45 vs
# H1 p=0.55, alpha = beta = 0.05. The log-likelihood increments and the
# decision boundaries are embedded as EXACT double literals (repr
# round-trips bit-identically into both engines), so no libm ln() is
# evaluated at query time and the cumulative walk is engine-exact.
import math as _math

_SPRT_POS = repr(_math.log(0.55 / 0.45))  # conversion increment
_SPRT_NEG = repr(_math.log(0.45 / 0.55))  # non-conversion increment
_SPRT_BOUND = repr(_math.log((1 - 0.05) / 0.05))  # ±ln(19)
_SPRT_CONV_CENTS = 5000  # conversion: floor(value*100) >= 5000


@register(
    "sprt_ab_sequential_test",
    f"""
WITH b AS (
  SELECT epoch_ns(ts) // 1000 AS ts_us, event_id,
         CASE WHEN CAST(floor(value * 100) AS BIGINT)
                   >= {_SPRT_CONV_CENTS}
              THEN 1 ELSE 0 END AS conv
  FROM events WHERE user_id % 2 = 1
), w AS (
  SELECT conv,
         sum(CASE WHEN conv = 1 THEN {_SPRT_POS}
                  ELSE {_SPRT_NEG} END)
           OVER (ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS llr,
         CAST(row_number() OVER (ORDER BY ts_us, event_id) AS BIGINT)
           AS rn
  FROM b
), x AS (
  SELECT min(rn) AS rn, min_by(llr, rn) AS llr
  FROM w WHERE llr >= {_SPRT_BOUND} OR llr <= -{_SPRT_BOUND}
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         max_by(llr, rn) AS last_llr
  FROM w
)
SELECT CASE WHEN x.llr >= {_SPRT_BOUND} THEN 'accept_h1'
            WHEN x.llr <= -{_SPRT_BOUND} THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       CAST(coalesce(x.rn, t.n_total) AS BIGINT) AS n_obs_at_decision,
       round(coalesce(x.llr, t.last_llr), 6) AS llr_at_decision,
       t.n_total
FROM t CROSS JOIN x
""",
)
def sprt_ab_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT over the B-arm conversion stream (user parity is the
    deterministic arm split): walk the cumulative log-likelihood ratio
    in event-time order and stop at the first ±ln(19) crossing
    (α=β=0.05, H0 p=0.45 vs H1 p=0.55). The sequential-experimentation
    op: the A/B z-test query answers "significant at n?", this one
    answers "how early could we have stopped?".

    Exactness: increments and boundaries are exact double literals
    (repr round-trip), the cumulative sum is an ordered-window fold —
    identical addition order in both engines — so the crossing row is
    engine-exact, not just within rounding. Scale shape: the ordered
    walk is inherently sequential; at 100 TB you run it per
    metric-shard on the recent window a monitor actually watches, or
    as the streaming twin's stateful fold — the full-history global
    sort here is the oracle-exact batch form.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 2 == 1
    )
    b = ev.select(
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.when(
            F.floor(F.col("value") * 100).cast("long")
            >= _SPRT_CONV_CENTS,
            1,
        )
        .otherwise(0)
        .alias("conv"),
    )
    w_ord = Window.orderBy("ts_us", "event_id")
    walk = b.select(
        F.sum(
            F.when(
                F.col("conv") == 1, F.lit(float(_SPRT_POS))
            ).otherwise(F.lit(float(_SPRT_NEG)))
        )
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("llr"),
        F.row_number().over(w_ord).cast("bigint").alias("rn"),
    )
    bound = float(_SPRT_BOUND)
    x = walk.filter(
        (F.col("llr") >= bound) | (F.col("llr") <= -bound)
    ).agg(
        F.min("rn").alias("xrn"),
        F.min_by("llr", "rn").alias("xllr"),
    )
    t = walk.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.max_by("llr", "rn").alias("last_llr"),
    )
    return t.crossJoin(F.broadcast(x)).select(
        F.when(F.col("xllr") >= bound, F.lit("accept_h1"))
        .when(F.col("xllr") <= -bound, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.coalesce("xrn", "n_total").cast("bigint").alias(
            "n_obs_at_decision"
        ),
        F.round(F.coalesce("xllr", "last_llr"), 6).alias(
            "llr_at_decision"
        ),
        "n_total",
    )


# Split-conformal prediction: hash-split train/calibration/test, exact
# integer order-statistic quantile of absolute residuals.
_CONF_ALPHA_PCT = 10  # 90% intervals
_CONF_SPLIT = "concat('conf:', cast(event_id as string))"
_DUCK_CONF_SPLIT = "'conf:' || event_id::VARCHAR"


@register(
    "split_conformal_intervals",
    f"""
WITH e AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS c,
         {T.duck_hash28(_DUCK_CONF_SPLIT)} % 3 AS fold
  FROM events
), pred AS (
  -- train fold 0: per-type integer-floor mean prediction
  SELECT event_type,
         CAST(sum(c) // count(*) AS BIGINT) AS yhat
  FROM e WHERE fold = 0 GROUP BY event_type
), cal AS (
  SELECT e.event_type, abs(e.c - p.yhat) AS r
  FROM e JOIN pred p ON p.event_type = e.event_type
  WHERE e.fold = 1
), caln AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal FROM cal
  GROUP BY event_type
), q AS (
  -- conformal quantile: the ceil((n+1)(1-alpha))-th smallest residual
  SELECT c.event_type, c.n_cal, r.r AS q_cents
  FROM caln c JOIN (
    SELECT event_type, r,
           CAST(row_number() OVER (
             PARTITION BY event_type ORDER BY r, event_type
           ) AS BIGINT) AS rk
    FROM cal
  ) r ON r.event_type = c.event_type
   AND r.rk = least(c.n_cal,
         (c.n_cal + 1) * (100 - {_CONF_ALPHA_PCT}) // 100
         + CASE WHEN (c.n_cal + 1) * (100 - {_CONF_ALPHA_PCT}) % 100 = 0
                THEN 0 ELSE 1 END)
), cov AS (
  SELECT e.event_type,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(count(*) FILTER (abs(e.c - p.yhat) <= q.q_cents)
              AS BIGINT) AS n_covered
  FROM e
  JOIN pred p ON p.event_type = e.event_type
  JOIN q ON q.event_type = e.event_type
  WHERE e.fold = 2
  GROUP BY e.event_type
)
SELECT cov.event_type, q.n_cal, q.q_cents, cov.n_test, cov.n_covered,
       round(cov.n_covered * 1.0 / cov.n_test, 6) AS coverage
FROM cov JOIN q ON q.event_type = cov.event_type
""",
)
def split_conformal_intervals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei 2018): per-type
    mean predictor fit on fold 0, conformal radius = the
    ⌈(n+1)(1−α)⌉-th smallest absolute residual on calibration fold 1
    (an exact integer ORDER STATISTIC — no interpolation, no floats),
    then measured coverage on test fold 2. Folds are portable-hash
    assignments, so the whole procedure is engine-exact; the only
    double is the final coverage ratio. The distribution-free
    uncertainty-quantification op, with its ~90% coverage guarantee
    checked empirically in the same query.

    Scale shape: one scan with hash-fold tags, two bounded-key
    aggregates, one per-type rank window over the calibration fold
    only. Nothing corpus-sized shuffles twice.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("c"),
        (F.expr(T.hash28_sql(_CONF_SPLIT)) % 3).alias("fold"),
    )
    pred = (
        ev.filter(F.col("fold") == 0)
        .groupBy("event_type")
        .agg(F.expr("sum(c) div count(*)").alias("yhat"))
    )
    cal = (
        ev.filter(F.col("fold") == 1)
        .join(F.broadcast(pred), "event_type")
        .select(
            "event_type", F.abs(F.col("c") - F.col("yhat")).alias("r")
        )
    )
    caln = cal.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cal")
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.asc("r"), F.asc("event_type")
    )
    ranked = cal.withColumn(
        "rk", F.row_number().over(w_rank).cast("bigint")
    )
    target = F.least(
        F.col("n_cal"),
        F.expr(
            f"(n_cal + 1) * (100 - {_CONF_ALPHA_PCT}) div 100"
            f" + CASE WHEN (n_cal + 1) * (100 - {_CONF_ALPHA_PCT})"
            f" % 100 = 0 THEN 0 ELSE 1 END"
        ),
    )
    q = (
        caln.join(ranked, "event_type")
        .filter(F.col("rk") == target)
        .select("event_type", "n_cal", F.col("r").alias("q_cents"))
    )
    cov = (
        ev.filter(F.col("fold") == 2)
        .join(F.broadcast(pred), "event_type")
        .join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n_cal", "q_cents")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.count(
                F.when(
                    F.abs(F.col("c") - F.col("yhat"))
                    <= F.col("q_cents"),
                    1,
                )
            ).alias("n_covered"),
        )
    )
    return cov.select(
        "event_type",
        "n_cal",
        "q_cents",
        "n_test",
        "n_covered",
        F.round(
            F.col("n_covered") * F.lit(1.0) / F.col("n_test"), 6
        ).alias("coverage"),
    )


@register(
    "did_estimator",
    """
WITH e AS (
  SELECT user_id % 2 AS arm,
         CASE WHEN epoch_ns(ts) // 1000 > (
           SELECT (min(epoch_ns(ts) // 1000)
                   + max(epoch_ns(ts) // 1000)) // 2 FROM events
         ) THEN 1 ELSE 0 END AS period,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), cells AS (
  SELECT arm, period,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s
  FROM e GROUP BY arm, period
), wide AS (
  SELECT
    max(CASE WHEN arm = 1 AND period = 1 THEN s * 1.0 / n END) AS t1,
    max(CASE WHEN arm = 1 AND period = 0 THEN s * 1.0 / n END) AS t0,
    max(CASE WHEN arm = 0 AND period = 1 THEN s * 1.0 / n END) AS c1,
    max(CASE WHEN arm = 0 AND period = 0 THEN s * 1.0 / n END) AS c0,
    CAST(sum(n) AS BIGINT) AS n_total
  FROM cells
)
SELECT round(t1, 6) AS treat_post_mean,
       round(t0, 6) AS treat_pre_mean,
       round(c1, 6) AS control_post_mean,
       round(c0, 6) AS control_pre_mean,
       round((t1 - t0) - (c1 - c0), 6) AS did_cents,
       n_total
FROM wide
""",
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (treat post − pre) − (control post −
    pre) over the user-parity arm split and the integer-midpoint period
    split. Cell sums/counts are exact BIGINTs; each mean is one double
    division from identical integers, so the estimate is engine-exact
    to the rounding policy. Completes the experimentation family
    (A/B z-test → sequential SPRT → quasi-experimental DiD).

    Scale shape: one scan, one 4-cell aggregate. Nothing else.
    """
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    mid = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("m")
    )
    cells = (
        ev.crossJoin(F.broadcast(mid))
        .select(
            "arm",
            F.when(F.col("ts_us") > F.col("m"), 1)
            .otherwise(0)
            .alias("period"),
            "c",
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
        )
    )
    mean = F.col("s") * F.lit(1.0) / F.col("n")
    wide = cells.agg(
        F.max(
            F.when((F.col("arm") == 1) & (F.col("period") == 1), mean)
        ).alias("t1"),
        F.max(
            F.when((F.col("arm") == 1) & (F.col("period") == 0), mean)
        ).alias("t0"),
        F.max(
            F.when((F.col("arm") == 0) & (F.col("period") == 1), mean)
        ).alias("c1"),
        F.max(
            F.when((F.col("arm") == 0) & (F.col("period") == 0), mean)
        ).alias("c0"),
        F.sum("n").alias("n_total"),
    )
    return wide.select(
        F.round("t1", 6).alias("treat_post_mean"),
        F.round("t0", 6).alias("treat_pre_mean"),
        F.round("c1", 6).alias("control_post_mean"),
        F.round("c0", 6).alias("control_pre_mean"),
        F.round(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 6
        ).alias("did_cents"),
        F.col("n_total").cast("bigint").alias("n_total"),
    )


@register(
    "mann_whitney_u_test",
    """
WITH e AS (
  SELECT user_id % 2 AS arm,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), g AS (
  SELECT c,
         CAST(count(*) FILTER (arm = 0) AS BIGINT) AS na_c,
         CAST(count(*) FILTER (arm = 1) AS BIGINT) AS nb_c,
         CAST(count(*) AS BIGINT) AS t
  FROM e GROUP BY c
), r AS (
  -- average rank of the tie group at value c: ranks are
  -- (below+1 .. below+t); avg = below + (t+1)/2 — an exact dyadic
  SELECT c, na_c, nb_c, t,
         coalesce(sum(t) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS below
  FROM g
), m AS (
  SELECT CAST(sum(na_c) AS BIGINT) AS n_a,
         CAST(sum(nb_c) AS BIGINT) AS n_b,
         sum(na_c * (below + (t + 1) / 2.0)) AS rank_sum_a,
         CAST(sum(t * t * t - t) AS BIGINT) AS tie_term,
         CAST(sum(t) AS BIGINT) AS n
  FROM r
)
SELECT n_a, n_b,
       round(rank_sum_a - n_a * (n_a + 1) / 2.0, 6) AS u_a,
       round((rank_sum_a - n_a * (n_a + 1) / 2.0
              - n_a * n_b / 2.0)
             / sqrt((n_a * 1.0 * n_b / (n * (n - 1.0)))
                    * ((n * n * n - n - tie_term) / 12.0)), 6) AS z
FROM m
""",
)
def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two user-parity
    arms with full tie handling: tie groups get their average rank
    (below + (t+1)/2 — an exact dyadic, so the rank sum is an
    order-free exact sum), and the normal approximation uses the exact
    tie-corrected variance n_a·n_b/(n(n−1)) · ((n³−n−Σ(t³−t))/12. Only
    the final z formula is IEEE double. The nonparametric sibling of
    the A/B z-test: no distribution assumption on value.

    Scale shape: the corpus collapses to the distinct-value grid in one
    shuffle; the rank walk is one grid-sized ordered window.
    """
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    g = ev.groupBy("c").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("na_c"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("nb_c"),
        F.count(F.lit(1)).alias("t"),
    )
    # bounded_global_order: input is the DISTINCT value grid
    # (floor(value*100) — range-capped, never corpus-sized)
    w = bounded_global_order(
        g,
        F.asc("c"),
        bound="distinct floor(value*100) grid — range-capped",
        max_rows=100_000,
    ).rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.withColumn(
        "below", F.coalesce(F.sum("t").over(w), F.lit(0))
    )
    m = r.agg(
        F.sum("na_c").alias("n_a"),
        F.sum("nb_c").alias("n_b"),
        F.sum(
            F.col("na_c")
            * (F.col("below") + (F.col("t") + 1) / F.lit(2.0))
        ).alias("rank_sum_a"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_term"),
        F.sum("t").alias("n"),
    )
    u_a = F.col("rank_sum_a") - F.col("n_a") * (
        F.col("n_a") + 1
    ) / F.lit(2.0)
    var = (
        F.col("n_a")
        * F.lit(1.0)
        * F.col("n_b")
        / (F.col("n") * (F.col("n") - F.lit(1.0)))
    ) * (
        (
            F.col("n") * F.col("n") * F.col("n")
            - F.col("n")
            - F.col("tie_term")
        )
        / F.lit(12.0)
    )
    return m.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(u_a, 6).alias("u_a"),
        F.round(
            (u_a - F.col("n_a") * F.col("n_b") / F.lit(2.0))
            / F.sqrt(var),
            6,
        ).alias("z"),
    )


@register(
    "spearman_value_time_corr",
    """
WITH e AS (
  SELECT event_type,
         epoch_ns(ts) // 1000 AS ts_us,
         event_id,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), r AS (
  -- tie-averaged ranks as exact dyadics:
  --   avg_rank = min_rank + (tie_size - 1)/2
  SELECT event_type,
         rank() OVER (PARTITION BY event_type ORDER BY c)
           + (count(*) OVER (PARTITION BY event_type, c) - 1) / 2.0
           AS ra,
         rank() OVER (PARTITION BY event_type ORDER BY ts_us)
           + (count(*) OVER (PARTITION BY event_type, ts_us) - 1) / 2.0
           AS rb
  FROM e
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(ra) AS sa, sum(rb) AS sb,
         sum(ra * rb) AS sab,
         sum(ra * ra) AS saa,
         sum(rb * rb) AS sbb
  FROM r GROUP BY event_type
)
SELECT event_type, n,
       round((n * sab - sa * sb)
             / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb)),
             6) AS spearman_rho
FROM m WHERE n >= 2
""",
)
def spearman_value_time_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between value and event time per
    event type — 'does spend drift over time?' without any linearity
    or distribution assumption. Tie groups take average ranks as exact
    dyadics (min_rank + (ties−1)/2), so all five moment sums are
    order-free exact sums of quarter-integers; only the final Pearson-
    on-ranks formula is IEEE double. (At extreme row counts per group
    the n·Σr² terms approach 2⁵³ — the DECIMAL(38) moment tier used by
    skew/kurtosis is the swap-in; fine at every gate SF.)

    Scale shape: two windows riding one event_type shuffle, then a
    bounded-key aggregate.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    w_c = Window.partitionBy("event_type").orderBy("c")
    w_ct = Window.partitionBy("event_type", "c")
    w_t = Window.partitionBy("event_type").orderBy("ts_us")
    w_tt = Window.partitionBy("event_type", "ts_us")
    r = ev.select(
        "event_type",
        (
            F.rank().over(w_c)
            + (F.count(F.lit(1)).over(w_ct) - 1) / F.lit(2.0)
        ).alias("ra"),
        (
            F.rank().over(w_t)
            + (F.count(F.lit(1)).over(w_tt) - 1) / F.lit(2.0)
        ).alias("rb"),
    )
    m = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
    )
    return m.filter(F.col("n") >= 2).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
            / (
                F.sqrt(
                    F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
                )
                * F.sqrt(
                    F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
                )
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "qq_deciles_by_arm",
    """
WITH e AS (
  SELECT user_id % 2 AS arm,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), r AS (
  SELECT arm, c,
         CAST(row_number() OVER (
           PARTITION BY arm ORDER BY c
         ) AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY arm) AS BIGINT) AS n
  FROM e
), dec AS (
  -- exact lower-order-statistic decile: index ceil(n*d/10)
  SELECT r.arm, u.d AS decile, r.c
  FROM r CROSS JOIN (SELECT unnest(range(1, 10)) AS d) u
  WHERE r.rk = (r.n * u.d + 9) // 10
)
SELECT a.decile,
       a.c AS arm0_cents,
       b.c AS arm1_cents,
       CAST(a.c - b.c AS BIGINT) AS diff_cents
FROM dec a JOIN dec b
  ON b.decile = a.decile AND a.arm = 0 AND b.arm = 1
""",
)
def qq_deciles_by_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ-plot points: deciles 1..9 of value (integer cents) per
    user-parity arm, paired — the distribution-comparison artifact
    behind the KS/MWU tests, with EXACT lower order statistics
    (index ⌈n·d/10⌉ as integer arithmetic; no interpolation, no
    floats anywhere).

    Scale shape: one rank window per arm over integer cents; the nine
    order statistics are row filters, not a second pass.
    """
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    w_rank = Window.partitionBy("arm").orderBy("c")
    w_n = Window.partitionBy("arm")
    r = ev.select(
        "arm",
        "c",
        F.row_number().over(w_rank).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").alias("d"))
    dec = r.crossJoin(F.broadcast(deciles)).filter(
        F.col("rk") == F.expr("(n * d + 9) div 10")
    )
    a = dec.filter(F.col("arm") == 0).select(
        F.col("d").alias("decile"), F.col("c").alias("arm0_cents")
    )
    b = dec.filter(F.col("arm") == 1).select(
        F.col("d").alias("decile2"), F.col("c").alias("arm1_cents")
    )
    return a.join(b, a.decile == b.decile2).select(
        "decile",
        "arm0_cents",
        "arm1_cents",
        (F.col("arm0_cents") - F.col("arm1_cents"))
        .cast("bigint")
        .alias("diff_cents"),
    )


# z-quantile constants for alpha=0.05 two-sided (1.959964) and
# power=0.80 (0.841621) — exact double literals, no query-time erf
_Z_ALPHA = "1.959963984540054"
_Z_POWER = "0.8416212335729143"


@register(
    "ab_power_analysis",
    f"""
WITH e AS (
  SELECT user_id % 2 AS arm, event_type,
         CAST(floor(value * 100) AS BIGINT) AS c
  FROM events
), m AS (
  SELECT event_type,
         CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_b,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS q,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) FILTER (arm = 0) AS BIGINT) AS sa,
         CAST(sum(c) FILTER (arm = 1) AS BIGINT) AS sb
  FROM e GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       round((sa * 1.0 / n_a - sb * 1.0 / n_b)
             / sqrt((n * 1.0 * q - s * 1.0 * s) / (n * 1.0 * (n - 1))),
             6) AS cohens_d,
       round(({_Z_ALPHA} + {_Z_POWER})
             * sqrt((n * 1.0 * q - s * 1.0 * s) / (n * 1.0 * (n - 1)))
             * sqrt(1.0 / n_a + 1.0 / n_b), 6) AS mde_cents
FROM m WHERE n_a >= 2 AND n_b >= 2
""",
)
def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power readout per event type: Cohen's d of the
    observed arm difference (pooled sample SD) and the minimum
    detectable effect at α=0.05 two-sided / 80% power —
    (z_{{α/2}}+z_{{β}})·σ·√(1/n_a+1/n_b). The z quantiles are exact
    double literals (no erf at query time); all moments are exact
    BIGINTs; only the two output formulas are IEEE double. The sizing
    companion to the z-test/SPRT/DiD family: 'how big an effect could
    this experiment even see?'.

    Scale shape: one 2-arm grouped aggregate; nothing else.
    """
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).alias("sa"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).alias("sb"),
    )
    sd = F.sqrt(
        (F.col("n") * F.lit(1.0) * F.col("q")
         - F.col("s") * F.lit(1.0) * F.col("s"))
        / (F.col("n") * F.lit(1.0) * (F.col("n") - 1))
    )
    return m.filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2)).select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(
            (
                F.col("sa") * F.lit(1.0) / F.col("n_a")
                - F.col("sb") * F.lit(1.0) / F.col("n_b")
            )
            / sd,
            6,
        ).alias("cohens_d"),
        F.round(
            (F.lit(float(_Z_ALPHA)) + F.lit(float(_Z_POWER)))
            * sd
            * F.sqrt(
                F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b")
            ),
            6,
        ).alias("mde_cents"),
    )


# --------------------------- mutual-information feature relevance

_MI_BINS = 8


@register(
    "mutual_information_features",
    f"""
WITH stats AS (
  SELECT min(value) AS mn, max(value) AS mx FROM events
),
b AS (
  SELECT event_type AS y,
         least(coalesce(CAST(floor((value - mn) * {_MI_BINS}
                    / nullif(mx - mn, 0))
                    AS BIGINT), 0), {_MI_BINS - 1}) AS value_bin,
         CAST(strftime(ts, '%H') AS BIGINT) AS hour,
         CAST(strftime(ts, '%w') AS BIGINT) AS dow
  FROM events, stats
),
m AS (
  SELECT 'value_bin' AS feature, value_bin AS x, y FROM b
  UNION ALL SELECT 'hour' AS feature, hour AS x, y FROM b
  UNION ALL SELECT 'dow' AS feature, dow AS x, y FROM b
),
joint AS (
  SELECT feature, x, y, CAST(count(*) AS BIGINT) AS nxy
  FROM m GROUP BY feature, x, y
),
margx AS (
  SELECT feature, x, CAST(sum(nxy) AS BIGINT) AS nx
  FROM joint GROUP BY feature, x
),
margy AS (
  SELECT feature, y, CAST(sum(nxy) AS BIGINT) AS ny
  FROM joint GROUP BY feature, y
),
tot AS (
  SELECT feature, CAST(sum(nxy) AS BIGINT) AS n
  FROM joint GROUP BY feature
),
mi AS (
  SELECT j.feature,
         sum((j.nxy * 1.0 / t.n) *
             ln((j.nxy * 1.0 * t.n) / (mx_.nx * 1.0 * my_.ny))) AS mi_nats
  FROM joint j
  JOIN margx mx_ ON j.feature = mx_.feature AND j.x = mx_.x
  JOIN margy my_ ON j.feature = my_.feature AND j.y = my_.y
  JOIN tot t ON j.feature = t.feature
  GROUP BY j.feature
),
hx AS (
  SELECT m2.feature,
         CAST(count(*) AS BIGINT) AS n_levels,
         -sum((m2.nx * 1.0 / t.n) * ln(m2.nx * 1.0 / t.n)) AS h_x
  FROM margx m2 JOIN tot t ON m2.feature = t.feature
  GROUP BY m2.feature
),
hy AS (
  SELECT m3.feature,
         -sum((m3.ny * 1.0 / t.n) * ln(m3.ny * 1.0 / t.n)) AS h_y
  FROM margy m3 JOIN tot t ON m3.feature = t.feature
  GROUP BY m3.feature
)
SELECT mi.feature, hx.n_levels,
       round(mi.mi_nats, 6) + 0.0 AS mi_nats,
       round(hx.h_x, 6) + 0.0 AS h_x,
       round(hy.h_y, 6) + 0.0 AS h_y,
       round(mi.mi_nats / sqrt(hx.h_x * hy.h_y), 6) + 0.0 AS nmi
FROM mi JOIN hx ON mi.feature = hx.feature
JOIN hy ON mi.feature = hy.feature
ORDER BY mi.feature
""",
)
def mutual_information_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filter-style feature relevance ranking: mutual information (in
    nats) between each candidate feature (equal-width value bin, hour
    of day, day of week) and the label (event_type), plus the marginal
    entropies and the normalized MI = I/√(H(x)·H(y)) so features with
    different cardinalities compare fairly.  Everything reduces to the
    (feature, x, y) contingency table — exact integer counts — with
    the logs applied only to count ratios at finalization, so both
    engines agree to rounding.  The equal-width binning is pure IEEE
    arithmetic ((v−mn)·B/(mx−mn), floor, clamp) — bit-identical
    cross-engine, no libm in the binning path.

    Shape at 100 TB: one melt (3× row multiplier of the column-pruned
    projection) into one count-only partial-agg shuffle bounded by
    Σ(feature levels × labels); marginals and entropies derive from
    the joint table, never rescanning the corpus — the textbook MI
    sufficient-statistics factoring."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    b = ev.crossJoin(F.broadcast(stats)).selectExpr(
        "event_type AS y",
        f"least(coalesce(cast(floor((value - mn) * {_MI_BINS} "
        f"/ nullif(mx - mn, 0)) as bigint), 0), {_MI_BINS - 1}) "
        f"AS value_bin",
        "cast(hour(ts) as bigint) AS hour",
        "cast(dayofweek(ts) - 1 as bigint) AS dow",
    )
    m = b.selectExpr(
        "y",
        "stack(3, 'value_bin', value_bin, 'hour', hour, 'dow', dow) "
        "AS (feature, x)",
    ).select("feature", "x", "y")
    # OPTIMIZATION r15 (guide §2.4/§5): the docstring's "never
    # rescanning the corpus" claim was aspirational — joint is consumed
    # by margx/margy/tot/mi and Catalyst replayed the corpus melt +
    # count shuffle per consumer (measured 184 ops / 27 exchanges /
    # 6 scans at sf0.001). The contingency table is bounded by
    # Σ(feature levels × labels) — metadata-sized at any corpus scale —
    # so pin it once and make the claim true.
    joint = pin(m.groupBy("feature", "x", "y").agg(F.count("*").alias("nxy")))
    margx = joint.groupBy("feature", "x").agg(F.sum("nxy").alias("nx"))
    margy = joint.groupBy("feature", "y").agg(F.sum("nxy").alias("ny"))
    tot = joint.groupBy("feature").agg(F.sum("nxy").alias("n"))
    mi = (
        joint.join(margx, ["feature", "x"])
        .join(margy, ["feature", "y"])
        .join(F.broadcast(tot), "feature")
        .groupBy("feature")
        .agg(
            F.sum(
                (F.col("nxy") * 1.0 / F.col("n"))
                * F.log(
                    (F.col("nxy") * 1.0 * F.col("n"))
                    / (F.col("nx") * 1.0 * F.col("ny"))
                )
            ).alias("mi_nats")
        )
    )
    hx = (
        margx.join(F.broadcast(tot), "feature")
        .groupBy("feature")
        .agg(
            F.count("*").alias("n_levels"),
            (-F.sum(
                (F.col("nx") * 1.0 / F.col("n"))
                * F.log(F.col("nx") * 1.0 / F.col("n"))
            )).alias("h_x"),
        )
    )
    hy = (
        margy.join(F.broadcast(tot), "feature")
        .groupBy("feature")
        .agg(
            (-F.sum(
                (F.col("ny") * 1.0 / F.col("n"))
                * F.log(F.col("ny") * 1.0 / F.col("n"))
            )).alias("h_y"),
        )
    )
    from oracle_vector_search_spark.functions.rounding import round_signed

    return (
        mi.join(hx, "feature")
        .join(hy, "feature")
        .select(
            "feature",
            "n_levels",
            round_signed("mi_nats").alias("mi_nats"),
            round_signed("h_x").alias("h_x"),
            round_signed("h_y").alias("h_y"),
            round_signed(
                F.col("mi_nats") / F.sqrt(F.col("h_x") * F.col("h_y"))
            ).alias("nmi"),
        )
        .orderBy("feature")
    )
