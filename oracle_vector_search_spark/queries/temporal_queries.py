"""Temporal + JSON oracle corpus over the ``events`` fixture.

Time windows, sessionization, as-of and range joins, JSON extraction —
the batch halves of the engine's streaming surface (SURVEY.md §2.8 M7);
the same operators run under Structured Streaming in
``streaming_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from oracle_vector_search_spark.io import at_rest, load_table
from oracle_vector_search_spark.operators.temporal import (
    asof_join,
    range_join_within,
    sessionize,
)
from oracle_vector_search_spark.queries import register


@register(
    "events_json_agg",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k,
       round(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) * 1.0
             / count(*), 6) AS avg_k
FROM events
GROUP BY event_type
""",
)
def events_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (``get_json_object``) + aggregation —
    events.props is a JSON string column (FIXTURES.md table 8)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.round(F.sum(k) * 1.0 / F.count("*"), 6).alias("avg_k"),
    )


@register(
    "hourly_event_windows",
    """
SELECT (epoch_ns(ts) // 3600000000000) * 3600000000000 AS window_start_ns,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM events
GROUP BY 1, 2
""",
)
def hourly_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows via ``F.window`` (epoch-aligned, matching
    DuckDB ``time_bucket``) — the batch twin of the streaming windowed
    aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            (F.unix_micros(F.col("window.start")) * 1000).alias(
                "window_start_ns"
            ),
            "event_type",
            "n",
            "sum_value_cents",
        )
    )


@register(
    "user_sessions",
    """
WITH e AS (
  SELECT user_id, event_id,
         epoch_ns(ts) // 1000 AS ts_us,
         epoch_ns(ts) // 1000000000 AS ts_s
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts_us, ts_s,
         CASE WHEN lag(ts_s) OVER w IS NULL
                   OR ts_s - lag(ts_s) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sessions AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(max(session_id) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events,
       round(count(*) * 1.0 / max(session_id), 6) AS events_per_session
FROM sessions
GROUP BY user_id
""",
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) via the lag + conditional-cumsum
    operator; one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", 1800, order_tiebreak="event_id")
    return s.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count("*").alias("n_events"),
        F.round(F.count("*") * 1.0 / F.max("session_id"), 6).alias(
            "events_per_session"
        ),
    )


_PURCHASE_ASOF_ORACLE = """
WITH purchases AS (
  -- DuckDB truncates parquet ns-timestamps to µs on read; compare at µs
  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
  FROM events WHERE event_type = 'purchase'
), cand AS (
  SELECT p.event_id, p.user_id, p.ts_us, o.o_orderkey, o.o_totalprice,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM purchases p
  JOIN orders o
    ON o.o_custkey = p.user_id AND epoch_ns(o.o_orderdate) // 1000 <= p.ts_us
)
SELECT p.event_id, p.user_id, p.ts_us, c.o_orderkey, c.o_totalprice
FROM purchases p
LEFT JOIN cand c ON c.event_id = p.event_id AND c.rn = 1
"""


@register("purchase_asof_order", _PURCHASE_ASOF_ORACLE)
def purchase_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the user's most
    recent order (latest o_orderdate ≤ ts, orderkey tie-break) via the
    union-marker window operator — no per-key pandas, one shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    orders = load_table(spark, sf_dir, "orders")
    # order right side so the carried last() is (latest date, largest key)
    return asof_join(
        ev.select(
            "event_id", "user_id", F.expr("ts_ns div 1000").alias("ts_us")
        ),
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "od_us"
            ),
            "o_orderkey",
            "o_totalprice",
        ),
        key="user_id",
        left_ts="ts_us",
        right_ts="od_us",
        right_payload=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
    ).select("event_id", "user_id", "ts_us", "o_orderkey", "o_totalprice")


@register("purchase_asof_order_salted", _PURCHASE_ASOF_ORACLE)
def purchase_asof_order_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME as-of semantics served by the hot-key-safe salted
    operator (``asof_join_salted``, VERDICT r10 #7): the as-of window
    runs per (user, time-bucket) and bucket boundaries carry across a
    buckets-axis window, so one power user can never own a whole task.
    Registered against the IDENTICAL oracle SQL as
    ``purchase_asof_order`` — the driver hash-checks that salting is
    a plan transformation, not a semantics change. PERF.md 0h-asof has
    the skew probe (5.7× on a 24 M-row hot key); at this fixture's
    balanced sizes the plain tier is the right default."""
    from oracle_vector_search_spark.operators.temporal import (
        asof_join_salted,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    orders = load_table(spark, sf_dir, "orders")
    return asof_join_salted(
        ev.select(
            "event_id", "user_id", F.expr("ts_ns div 1000").alias("ts_us")
        ),
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "od_us"
            ),
            "o_orderkey",
            "o_totalprice",
        ),
        key="user_id",
        left_ts="ts_us",
        right_ts="od_us",
        right_payload=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
        buckets=16,
    ).select("event_id", "user_id", "ts_us", "o_orderkey", "o_totalprice")


@register("purchase_asof_order_auto", _PURCHASE_ASOF_ORACLE)
def purchase_asof_order_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of semantics served by the PROFILE-DISPATCHED tier
    (``asof_join_auto``, VERDICT r11 #6): consult the key_profile skew
    telemetry, route hot timelines through the time-bucketed salted
    window and everything else through the plain single-window tier,
    union. Registered against the IDENTICAL oracle SQL as
    ``purchase_asof_order`` — the driver hash-checks that the dispatch
    (including the split/union) is a plan transformation, not a
    semantics change.

    The fixture is balanced, so the production threshold (4 M rows,
    the measured crossover — PERF.md 0h-asof) would route everything
    plain; to keep BOTH slices exercised at every fixture scale, the
    threshold pins to the heaviest profiled timeline (one ≤20-row
    metadata read — at 100 TB the profile is an at-rest table)."""
    from oracle_vector_search_spark.operators.skew import key_profile
    from oracle_vector_search_spark.operators.temporal import (
        asof_join_auto,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    orders = load_table(spark, sf_dir, "orders")
    l = ev.select(
        "event_id", "user_id", F.expr("ts_ns div 1000").alias("ts_us")
    )
    r = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
            "od_us"
        ),
        "o_orderkey",
        "o_totalprice",
    )
    # Collect the profile ONCE and derive both the threshold and the
    # dispatcher's input from the collected rows — the profile plan is
    # two table scans + aggregations, and handing the live DataFrame
    # to asof_join_auto would execute it a second time (r12 review).
    # Session-cached: refreshed telemetry belongs to ingest, not to
    # every query invocation (bounded: <= 20 rows per (app, sf)).
    prof_rows = at_rest(
        spark,
        (purchase_asof_order_auto, sf_dir),
        lambda: key_profile(l, r, "user_id").collect(),
    )
    sizes = [
        (row["n_left"] or 0) + (row["n_right"] or 0) for row in prof_rows
    ]
    # empty profile (degenerate fixture) → any threshold; no hot keys
    # exist, so the dispatcher degrades to the plain tier
    thr = max(sizes) if sizes else 1
    prof = spark.createDataFrame(
        [
            (row["user_id"], row["n_left"], row["n_right"])
            for row in prof_rows
        ],
        schema="user_id long, n_left long, n_right long",
    )
    return asof_join_auto(
        l,
        r,
        key="user_id",
        left_ts="ts_us",
        right_ts="od_us",
        right_payload=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
        buckets=16,
        profile=prof,
        hot_rows_threshold=int(thr),
    ).select("event_id", "user_id", "ts_us", "o_orderkey", "o_totalprice")


@register(
    "view_next_purchase_asof",
    """
WITH v AS (
  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT event_id AS p_id, user_id, epoch_ns(ts) // 1000 AS p_ts_us
  FROM events WHERE event_type = 'purchase'
), cand AS (
  SELECT v.event_id, v.user_id, v.ts_us, p.p_id, p.p_ts_us,
         row_number() OVER (PARTITION BY v.event_id
                            ORDER BY p.p_ts_us, p.p_id) AS rn
  FROM v JOIN p ON p.user_id = v.user_id
              AND p.p_ts_us >= v.ts_us
              AND p.p_ts_us <= v.ts_us + 3600000000
)
SELECT v.event_id, v.user_id, v.ts_us,
       c.p_id AS next_purchase_id, c.p_ts_us AS next_purchase_ts_us
FROM v LEFT JOIN cand c ON c.event_id = v.event_id AND c.rn = 1
""",
)
def view_next_purchase_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (the mirror of ``purchase_asof_order``): each
    view event picks up the user's EARLIEST purchase within the next
    hour, via the same union-marker window operator run over descending
    time — one shuffle on user_id, no per-key pandas, exact-µs
    tolerance. The batch twin of the streaming view→purchase interval
    join, as a 1-row-per-view attribution instead of all pairs."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("next_purchase_id"),
        F.expr("ts_ns div 1000").alias("next_purchase_ts_us"),
    )
    return asof_join(
        views,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_payload=["next_purchase_id", "next_purchase_ts_us"],
        tolerance_seconds=3600,
        right_tiebreak="next_purchase_id",
        direction="forward",
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "next_purchase_id",
        "next_purchase_ts_us",
    )


@register(
    "event_pairs_within_minute",
    """
SELECT a.event_id AS first_id, b.event_id AS second_id, a.user_id,
       CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS gap_seconds
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) BETWEEN 1 AND 60
""",
)
def event_pairs_within_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range self-join: pairs of events by the same user within 60 s.
    Bucketed into 60 s epochs so the join is equi on (user, bucket) —
    candidate space is adjacent buckets, not the O(n²) per-user cross."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    pairs = range_join_within(
        ev, ev, key="user_id", left_ts="ts", right_ts="ts", max_gap_seconds=60
    )
    return pairs.select(
        F.col("l.event_id").alias("first_id"),
        F.col("r.event_id").alias("second_id"),
        F.col("l.user_id").alias("user_id"),
        (
            F.unix_timestamp(F.col("r.ts")) - F.unix_timestamp(F.col("l.ts"))
        ).alias("gap_seconds"),
    )


@register(
    "events_hourly_gapfill_locf",
    """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
),
h AS (
  SELECT user_id, ts_us // 3600000000 AS hour_id, ts_us, event_id,
         value_cents
  FROM e
),
bounds AS (SELECT min(hour_id) AS hmin, max(hour_id) AS hmax FROM h),
users AS (SELECT DISTINCT user_id FROM e),
grid AS (
  SELECT u.user_id, unnest(range(b.hmin, b.hmax + 1)) AS hour_id
  FROM users u CROSS JOIN bounds b
),
obs AS (
  SELECT user_id, hour_id, value_cents FROM (
    SELECT user_id, hour_id, value_cents,
           row_number() OVER (PARTITION BY user_id, hour_id
                              ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM h
  ) WHERE rn = 1
),
j AS (
  SELECT g.user_id, g.hour_id, o.value_cents
  FROM grid g LEFT JOIN obs o
    ON o.user_id = g.user_id AND o.hour_id = g.hour_id
)
SELECT user_id, hour_id, value_cents,
       last_value(value_cents IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hour_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
FROM j
ORDER BY user_id, hour_id
""",
)
def events_hourly_gapfill_locf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-series regularization: a dense per-user hourly grid over
    the observed range (gap-fill), each cell carrying the hour's last
    observation, gaps forward-filled (LOCF) per user — the
    resample-then-fill step every sensor/metrics training pipeline
    runs before windowed feature extraction. The grid explodes from a
    broadcast 2-scalar bounds row; LOCF is one user-partitioned
    window; rows before a user's first observation stay NULL rather
    than inventing data.
    """
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    h = e.withColumn("hour_id", F.expr("ts_us div 3600000000"))
    bounds = h.agg(
        F.min("hour_id").alias("hmin"), F.max("hour_id").alias("hmax")
    )
    users = e.select("user_id").distinct()
    grid = users.join(F.broadcast(bounds)).select(
        "user_id",
        F.explode(F.sequence(F.col("hmin"), F.col("hmax"))).alias(
            "hour_id"
        ),
    )
    w_obs = Window.partitionBy("user_id", "hour_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    obs = (
        h.withColumn("rn", F.row_number().over(w_obs))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour_id", "value_cents")
    )
    j = grid.join(obs, ["user_id", "hour_id"], "left")
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "hour_id",
        "value_cents",
        F.last("value_cents", ignorenulls=True)
        .over(w_fill)
        .alias("filled_cents"),
    ).orderBy("user_id", "hour_id")


@register(
    "retention_cohorts",
    """
WITH e AS (
  SELECT user_id,
         CAST(epoch_ns(ts) // 1000 // 86400000000 // 7 AS BIGINT) AS week
  FROM events
),
first_week AS (
  SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         e.week - f.cohort_week AS week_offset
  FROM e JOIN first_week f USING (user_id)
)
SELECT cohort_week, week_offset,
       CAST(count(*) AS BIGINT) AS n_active_users
FROM activity
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity week,
    counted as active per week offset — the classic product-analytics
    rollup a training-data team also runs on corpus contribution
    (which crawl cohorts still contribute documents N snapshots
    later). Integer epoch-week arithmetic end to end.

    Shape at 100 TB: one groupBy(user) for cohort assignment, a
    broadcast-joinable (user → cohort) map, one distinct + count —
    every shuffle carries ids and small ints only."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns div 1000 div 86400000000 div 7").alias("week"),
    )
    first = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        e.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "session_path_bigrams",
    """
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_ns(ts) // 1000 AS ts_us,
         epoch_ns(ts) // 1000000000 AS ts_s
  FROM events
), flagged AS (
  SELECT user_id, event_id, event_type, ts_us, ts_s,
         CASE WHEN lag(ts_s) OVER w IS NULL
                   OR ts_s - lag(ts_s) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sessions AS (
  SELECT user_id, event_id, event_type, ts_us,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), steps AS (
  SELECT user_id, session_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id, session_id
           ORDER BY ts_us, event_id) AS next_type
  FROM sessions
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM steps WHERE next_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY from_type, to_type
""",
)
def session_path_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-session behavior paths: event-type transition counts
    (bigrams) within 30-minute-gap sessions — sessionize (lag +
    conditional cumsum), one ``lead`` window for the next step, one
    count aggregation. The funnel family's generalization from one
    hand-picked pair (view→purchase) to the full transition matrix.

    Shape at 100 TB: both windows ride the SAME shuffle on user_id
    (session_id partitions refine it), then a count-only aggregate."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", 1800, order_tiebreak="event_id")
    w = Window.partitionBy("user_id", "session_id").orderBy(
        F.expr("ts_ns div 1000"), "event_id"
    )
    steps = s.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        steps.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("from_type", "to_type")
    )


@register(
    "event_type_twap",
    """
WITH e AS (
  SELECT event_type,
         epoch_ns(ts) // 1000 AS ts_us,
         event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
stepped AS (
  SELECT event_type, cents,
         lead(ts_us) OVER (PARTITION BY event_type
                           ORDER BY ts_us, event_id) - ts_us AS hold_us
  FROM e
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(hold_us) AS BIGINT) AS total_hold_us,
       round(sum(cents * hold_us) * 1.0 / sum(hold_us) / 100, 6) AS twap
FROM stepped
WHERE hold_us IS NOT NULL AND hold_us > 0
GROUP BY event_type
ORDER BY event_type
""",
)
def event_type_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (the TWAP/VWAP family): each event's
    value holds until the next event of the same type, and the average
    weights by exact µs holding time — one lead window over one
    shuffle on the group key, integer cents×µs products summed exactly
    (≤1e13 per row, int64-safe at this scale; DECIMAL(38) at 100 TB),
    one final division. The time-series aggregate a metrics pipeline
    computes per instrument/sensor."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    stepped = e.select(
        "event_type",
        "cents",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("hold_us"),
    )
    return (
        stepped.filter(F.col("hold_us").isNotNull() & (F.col("hold_us") > 0))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("hold_us").alias("total_hold_us"),
            F.round(
                F.sum(F.col("cents") * F.col("hold_us"))
                * 1.0
                / F.sum("hold_us")
                / 100,
                6,
            ).alias("twap"),
        )
        .orderBy("event_type")
    )


@register(
    "variant_props_stats",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_distinct_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns through Spark 4's VARIANT type:
    ``parse_json`` shreds props once into the binary variant encoding,
    ``variant_get`` extracts typed fields without re-parsing — the
    engine's path for schema-on-read JSON at scale, where repeated
    ``get_json_object`` string parsing is the classic CPU sink. The
    oracle extracts the same field with DuckDB's JSON functions, so
    the typed results must agree exactly."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.parse_json("props")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.countDistinct(k).alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


@register(
    "events_ohlc_bars",
    """
WITH e AS (
  SELECT event_type,
         epoch_ns(ts) // 1000 AS ts_us,
         event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         epoch_ns(ts) // 1000 // 21600000000 AS bar_id
  FROM events
)
SELECT event_type, CAST(bar_id AS BIGINT) AS bar_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min_by(cents, lpad(ts_us::VARCHAR, 20, '0')
                          || lpad(event_id::VARCHAR, 12, '0'))
            AS BIGINT) AS open_cents,
       CAST(max(cents) AS BIGINT) AS high_cents,
       CAST(min(cents) AS BIGINT) AS low_cents,
       CAST(max_by(cents, lpad(ts_us::VARCHAR, 20, '0')
                          || lpad(event_id::VARCHAR, 12, '0'))
            AS BIGINT) AS close_cents
FROM e
GROUP BY event_type, bar_id
ORDER BY event_type, bar_id
""",
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling (the finance/metrics rollup): 6-hour bars per
    event type with open/close via ``min_by``/``max_by`` on the
    (ts, event_id) total order — no window, ONE aggregation shuffle,
    and the composite argmin/argmax key (zero-padded string, the form
    both engines order identically) makes open/close deterministic
    under equal timestamps. high/low are plain min/max on exact
    integer cents."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("ts_ns div 1000 div 21600000000").alias("bar_id"),
    )
    key = F.concat(
        F.lpad(F.col("ts_us").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        e.groupBy("event_type", "bar_id")
        .agg(
            F.count("*").alias("n"),
            F.min_by("cents", key).alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", key).alias("close_cents"),
        )
        .orderBy("event_type", "bar_id")
    )


@register(
    "events_hourly_gapfill_ffill",
    """
WITH e AS (
  SELECT user_id, event_id,
         epoch_ns(ts) // 3600000000000 AS hr,
         epoch_ns(ts) AS ts_ns,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE user_id < 8
), hourly AS (
  SELECT user_id, hr, cents FROM (
    SELECT user_id, hr, cents,
           row_number() OVER (PARTITION BY user_id, hr
                              ORDER BY ts_ns DESC, event_id DESC) AS rn
    FROM e) z WHERE rn = 1
), spans AS (
  SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM e GROUP BY user_id
), timeline AS (
  SELECT user_id,
         CAST(unnest(generate_series(h0, h1)) AS BIGINT) AS hr
  FROM spans
), joined AS (
  SELECT t.user_id, t.hr, h.cents,
         CASE WHEN h.cents IS NULL THEN 0 ELSE 1 END AS is_observed
  FROM timeline t LEFT JOIN hourly h USING (user_id, hr)
)
SELECT user_id, hr,
       CAST(coalesce(last_value(cents IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
         AS BIGINT) AS cents_ffill,
       CAST(is_observed AS INTEGER) AS is_observed
FROM joined
""",
)
def events_hourly_gapfill_ffill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-series resampling: per-user hourly grid (gap-fill via
    ``sequence``/explode between each user's first and last hour) with
    forward-filled last observation (``last(..., ignorenulls)`` over an
    UNBOUNDED PRECEDING row frame) — the downsample-then-carry-forward
    shape every metrics store needs.

    Scale shape: the dedup-to-hourly window, the span aggregate, the
    grid join, and the forward-fill window ALL partition on user_id —
    one shuffle key end-to-end; the timeline generates map-side from
    each user's (h0, h1) span row, so the grid never materializes on
    the driver. Hours before a user's first observation fill with the
    -1 sentinel on both engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    e = ev.select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 3600000000000").alias("hr"),
        "ts_ns",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    wdedup = Window.partitionBy("user_id", "hr").orderBy(
        F.desc("ts_ns"), F.desc("event_id")
    )
    hourly = (
        e.withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .select("user_id", "hr", "cents")
    )
    spans = e.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    timeline = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1")).alias("hr"),
    )
    joined = timeline.join(hourly, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        "cents",
        F.when(F.col("cents").isNull(), 0).otherwise(1).alias("obs"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hr",
        F.coalesce(
            F.last("cents", ignorenulls=True).over(wf), F.lit(-1)
        )
        .cast("long")
        .alias("cents_ffill"),
        F.col("obs").cast("int").alias("is_observed"),
    )


@register(
    "events_rolling_median_value",
    """
WITH e AS (
  SELECT user_id, event_id,
         epoch_ns(ts) AS ts_ns,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE user_id < 8
)
SELECT user_id, event_id,
       round(quantile_cont(cents, 0.5) OVER (
         PARTITION BY user_id ORDER BY ts_ns, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6)
         AS rolling_median_cents,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY ts_ns, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS window_n
FROM e
""",
)
def events_rolling_median_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling exact median (10-event trailing window) per user — the
    order-statistic sibling of the EWMA/CUSUM sequential folds:
    robust-to-outliers smoothing that a mean-based window can't give.

    Spark's exact ``percentile`` runs as a WINDOW aggregate over the
    bounded row frame (sorts ≤ 10 values per row — cost is frame-
    bounded, not partition-bounded); same linear interpolation as
    DuckDB's ``quantile_cont``, over identical integer cents, so the
    result is engine-exact. One shuffle on user_id; the total window
    order (ts, event_id) pins frame membership under ties."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    e = ev.select(
        "user_id",
        "event_id",
        "ts_ns",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.expr("percentile(cents, 0.5D)").over(w), 6).alias(
            "rolling_median_cents"
        ),
        F.count(F.lit(1)).over(w).alias("window_n"),
    )


@register(
    "funnel_view_click_purchase",
    """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us
  FROM events
), per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts_us END) AS v1
  FROM e GROUP BY user_id
), step2 AS (
  SELECT p.user_id, p.v1,
         min(CASE WHEN e.event_type = 'click' AND e.ts_us > p.v1
                  THEN e.ts_us END) AS c1
  FROM per_user p LEFT JOIN e USING (user_id)
  GROUP BY p.user_id, p.v1
), step3 AS (
  SELECT s.user_id, s.v1, s.c1,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts_us > s.c1
                  THEN e.ts_us END) AS p1
  FROM step2 s LEFT JOIN e USING (user_id)
  GROUP BY s.user_id, s.v1, s.c1
)
SELECT 'step1_view' AS step,
       CAST(count(v1) AS BIGINT) AS n_users
FROM step3
UNION ALL
SELECT 'step2_click_after_view',
       CAST(count(c1) AS BIGINT) FROM step3
UNION ALL
SELECT 'step3_purchase_after_click',
       CAST(count(p1) AS BIGINT) FROM step3
""",
)
def funnel_view_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict-sequence funnel: users who viewed, then clicked AFTER
    the first view, then purchased AFTER that click — each step's
    timestamp must follow the previous step's (the ordering constraint
    that separates funnel analysis from mere event-type membership).

    The Spark plan computes all three step timestamps in ONE pass:
    conditional-min aggregates over a window-free groupBy after
    self-annotating each event with the user's first-view time via a
    user-partitioned window — one shuffle on user_id total, versus the
    oracle's (clearer, slower) three-round LEFT-JOIN formulation. Both
    count the same exact integer microseconds."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
    )
    wu = Window.partitionBy("user_id")
    v1 = F.min(
        F.when(F.col("event_type") == "view", F.col("ts_us"))
    ).over(wu)
    ann = e.withColumn("v1", v1)
    c1 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts_us") > F.col("v1")),
            F.col("ts_us"),
        )
    ).over(wu)
    ann = ann.withColumn("c1", c1)
    per_user = ann.groupBy("user_id").agg(
        F.first("v1").alias("v1"),
        F.first("c1").alias("c1"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("c1")),
                F.col("ts_us"),
            )
        ).alias("p1"),
    )
    s1 = per_user.agg(
        F.lit("step1_view").alias("step"),
        F.count("v1").alias("n_users"),
    )
    s2 = per_user.agg(
        F.lit("step2_click_after_view").alias("step"),
        F.count("c1").alias("n_users"),
    )
    s3 = per_user.agg(
        F.lit("step3_purchase_after_click").alias("step"),
        F.count("p1").alias("n_users"),
    )
    return s1.unionAll(s2).unionAll(s3)


@register(
    "events_trailing_hour_range_sum",
    """
WITH e AS (
  SELECT user_id, event_id,
         epoch_ns(ts) // 1000 AS ts_us,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE user_id < 8
)
SELECT user_id, event_id,
       CAST(sum(cents) OVER w AS BIGINT) AS trailing_hour_cents,
       CAST(count(*) OVER w AS BIGINT) AS n_in_window
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def events_trailing_hour_range_sum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-hour rolling sum with a RANGE frame — the frame is
    bounded by the ORDER-BY VALUE (all events within the last
    3,600,000,000 µs), not by a row count, so simultaneous events are
    always in or out together and sparse/bursty periods get the
    correct window regardless of event density. The semantic sibling
    of the ROWS-frame queries (``events_rolling_median_value``), and
    the batch twin of a sliding stream window evaluated at every
    event. One shuffle on user_id; exact integer cents."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < 8
    ).select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum("cents").over(w).alias("trailing_hour_cents"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@register(
    "rolling_distinct_users_range",
    """
WITH e AS (
  SELECT event_id, event_type,
         epoch_ns(ts) // 1000 AS ts_us,
         user_id
  FROM events
)
SELECT event_id, event_type,
       CAST(count(DISTINCT user_id) OVER w AS BIGINT)
         AS distinct_users_1h
FROM e
WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def rolling_distinct_users_range(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact rolling DISTINCT count over a value-bounded RANGE frame —
    distinct users active in the trailing hour, evaluated at every
    event. Spark has no windowed count(DISTINCT), so the engine
    composes it as ``size(array_distinct(collect_list(...)))`` over
    the identical frame — exact, and the standard Spark recipe; the
    oracle states the same thing natively. Simultaneous events share
    a frame (RANGE, not ROWS), so ties are deterministic.

    Scale: one shuffle on event_type. The frame buffer holds one hour
    of user ids per partition — bounded by event rate, not corpus
    size; at very high rates the same query degrades gracefully to
    the sketch tier (HLL per hour bucket + merge), with this exact
    form as its error oracle (the ``approx_aggregates`` pattern)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "user_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "event_type",
        F.size(F.array_distinct(F.collect_list("user_id").over(w)))
        .cast("long")
        .alias("distinct_users_1h"),
    )


@register(
    "scd2_user_type_intervals",
    """
WITH e AS (
  SELECT user_id, event_id,
         epoch_ns(ts) // 1000 AS ts_us,
         event_type AS etype
  FROM events
), marked AS (
  SELECT *,
         lag(etype) OVER w AS prev_etype
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), changes AS (
  SELECT user_id, ts_us, event_id, etype
  FROM marked
  WHERE prev_etype IS NULL OR etype <> prev_etype
), versioned AS (
  SELECT user_id, etype,
         CAST(ts_us AS BIGINT) AS valid_from_us,
         CAST(row_number() OVER w2 AS INTEGER) AS version,
         lead(ts_us) OVER w2 AS next_from
  FROM changes
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT user_id, version, etype,
       valid_from_us,
       CAST(coalesce(next_from, -1) AS BIGINT) AS valid_to_us
FROM versioned
""",
)
def scd2_user_type_intervals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCD type-2 dimension construction from a change feed: collapse
    each user's event stream into versioned validity intervals of its
    ``event_type`` attribute — a new interval opens only when the value
    CHANGES (lag-based change detection, so consecutive repeats
    compact into one row), closes when the next change arrives
    (lead), and the current version carries the -1 open-interval
    sentinel. Ordering is total ((ts_us, event_id) tie-break), so
    simultaneous events version identically in both engines. This is
    the table the as-of/point-in-time joins (``purchase_asof_order``)
    consume.

    Scale: both windows ride ONE user_id shuffle (change detection on
    the raw feed, versioning on the already-collapsed change rows —
    the second window's input is changes-sized, not feed-sized)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        F.col("event_type").alias("etype"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        e.withColumn("prev_etype", F.lag("etype").over(w))
        .filter(
            F.col("prev_etype").isNull()
            | (F.col("etype") != F.col("prev_etype"))
        )
        .select("user_id", "ts_us", "event_id", "etype")
    )
    # same (ts_us, event_id) total order as the change-detection window
    # — simultaneous changes version deterministically at any scale
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changes.select(
        "user_id",
        F.row_number().over(w2).cast("int").alias("version"),
        "etype",
        F.col("ts_us").alias("valid_from_us"),
        F.coalesce(F.lead("ts_us").over(w2), F.lit(-1))
        .cast("long")
        .alias("valid_to_us"),
    )


@register(
    "scd2_point_in_time_join",
    """
WITH o AS (
  SELECT o_custkey AS user_id, o_orderkey,
         epoch_ns(o_orderdate) // 1000 AS ts_us,
         o_orderpriority AS prio
  FROM orders
), marked AS (
  SELECT *, lag(prio) OVER w AS prev_prio
  FROM o
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, o_orderkey)
), changes AS (
  SELECT user_id, ts_us, o_orderkey, prio
  FROM marked
  WHERE prev_prio IS NULL OR prio <> prev_prio
), versioned AS (
  SELECT user_id, prio,
         CAST(ts_us AS BIGINT) AS valid_from_us,
         CAST(row_number() OVER w2 AS INTEGER) AS version,
         lead(ts_us) OVER w2 AS next_from
  FROM changes
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, o_orderkey)
), e AS (
  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ets_us
  FROM events
)
SELECT e.event_id, e.user_id, CAST(e.ets_us AS BIGINT) AS ets_us,
       v.prio AS prio_at_event, v.version, v.valid_from_us
FROM e JOIN versioned v
  ON v.user_id = e.user_id
 AND v.valid_from_us <= e.ets_us
 AND (v.next_from IS NULL OR e.ets_us < v.next_from)
""",
)
def scd2_point_in_time_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time (bitemporal) join against an SCD2 dimension:
    customer order-priority versions are built SCD2-style from the
    orders change feed (lag change-detection + lead interval close —
    the ``scd2_user_type_intervals`` recipe on a second attribute),
    and every event picks the version VALID AT ITS TIMESTAMP — the
    feature-store rule that prevents training-serving skew (an
    interval opened after the event can never be chosen). Spark
    expresses containment as the backward as-of join on valid_from_us
    (intervals partition time, so the latest open ≤ t IS the
    containing interval); the oracle states the interval predicate
    directly. Events before a customer's first order have no version
    and drop (inner semantics, both sides).

    Scale: interval build and as-of probe each ride ONE shuffle on the
    entity key — never an inequality cross join."""
    from oracle_vector_search_spark.operators.temporal import asof_join

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp))").alias(
            "ts_us"
        ),
        F.col("o_orderpriority").alias("prio"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "o_orderkey")
    changes = (
        o.withColumn("prev_prio", F.lag("prio").over(w))
        .filter(
            F.col("prev_prio").isNull()
            | (F.col("prio") != F.col("prev_prio"))
        )
        .select("user_id", "ts_us", "o_orderkey", "prio")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "o_orderkey")
    intervals = changes.select(
        "user_id",
        F.col("ts_us").alias("valid_from_us"),
        F.row_number().over(w2).cast("int").alias("version"),
        F.col("prio").alias("prio_at_event"),
    )
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts_ns div 1000").alias("ets_us"),
    )
    joined = asof_join(
        e,
        intervals,
        key="user_id",
        left_ts="ets_us",
        right_ts="valid_from_us",
        right_payload=["prio_at_event", "version", "valid_from_us"],
        direction="backward",
        # (ADVICE r5, high) Two priority changes on the same
        # o_orderdate tie completely on valid_from_us; backward sorts
        # the tiebreak ascending so last-wins = MAX version — exactly
        # the oracle's deterministic pick (the earlier same-ts interval
        # is empty under ets_us < next_from).
        right_tiebreak="version",
    )
    return joined.filter(F.col("prio_at_event").isNotNull()).select(
        "event_id",
        "user_id",
        "ets_us",
        "prio_at_event",
        "version",
        "valid_from_us",
    )


_RESURRECT_GAP_US = 7 * 86400 * 1000000  # 7 days


@register(
    "user_resurrection_stats",
    f"""
WITH e AS (
  SELECT user_id, event_id,
         epoch_ns(ts) // 1000 AS ts_us
  FROM events
), gaps AS (
  SELECT user_id, ts_us,
         ts_us - lag(ts_us) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
  FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT ts_us // 86400000000) AS BIGINT)
         AS n_active_days,
       CAST(coalesce(max(gap_us), 0) AS BIGINT) AS max_gap_us,
       CAST(sum(CASE WHEN gap_us > {_RESURRECT_GAP_US}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrections
FROM gaps
GROUP BY user_id
""",
)
def user_resurrection_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Churn/resurrection profile per user: inter-event gaps via one
    lag window ((ts, id) total order), a resurrection = activity after
    more than 7 silent days, plus active-day counts — the engagement
    lifecycle statistic behind retention dashboards. All integer µs;
    single-event users report zero gaps (the lag NULL row contributes
    to neither max nor the resurrection count on either engine,
    coalesced to 0 explicitly for the max).

    Scale: window + aggregation ride the same user_id shuffle."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = e.withColumn(
        "gap_us", F.col("ts_us") - F.lag("ts_us").over(w)
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct(F.expr("ts_us div 86400000000")).alias(
            "n_active_days"
        ),
        F.coalesce(F.max("gap_us"), F.lit(0)).alias("max_gap_us"),
        F.sum(
            F.when(F.col("gap_us") > _RESURRECT_GAP_US, 1).otherwise(0)
        ).alias("n_resurrections"),
    )


@register(
    "temporal_holdout_split",
    """
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events
), r AS (
  SELECT user_id, event_id, ts_us,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC
         ) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM e
)
SELECT user_id,
       CAST(n - 1 AS BIGINT) AS n_train,
       event_id AS test_event_id,
       CAST(ts_us AS BIGINT) AS test_ts_us
FROM r WHERE rn = 1
""",
)
def temporal_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-last-out temporal split (the recsys evaluation standard):
    each user's chronologically last event is the test example, the
    rest are training. Time order ties break on event_id, so the split
    is deterministic and leak-free — the test event is strictly the
    newest, never sampled.

    Scale shape: one window over a single shuffle on user_id; carries
    (user_id, event_id, ts_us) only.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    wc = Window.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            (F.col("n") - 1).cast("bigint").alias("n_train"),
            F.col("event_id").alias("test_event_id"),
            F.col("ts_us").alias("test_ts_us"),
        )
    )


_HOUR_US = 3_600_000_000  # 1 hour in µs
_SESS_GAP_US = 1_800_000_000  # 30-min session gap
_HOT_TOP = 20  # busiest hours kept


@register(
    "session_hot_hour_overlap",
    f"""
WITH e AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events
), s0 AS (
  SELECT user_id, ts_us, event_id,
         CASE WHEN ts_us - lag(ts_us) OVER (
                PARTITION BY user_id ORDER BY ts_us, event_id)
              > {_SESS_GAP_US} THEN 1 ELSE 0 END AS brk
  FROM e
), s1 AS (
  SELECT user_id, ts_us,
         sum(brk) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS UNBOUNDED PRECEDING) AS sid
  FROM s0
), sess AS (
  SELECT user_id, CAST(sid AS BIGINT) AS session_id,
         CAST(min(ts_us) AS BIGINT) AS session_start_us,
         CAST(max(ts_us) AS BIGINT) AS session_end_us
  FROM s1 GROUP BY user_id, sid
), hours AS (
  SELECT (ts_us // {_HOUR_US}) * {_HOUR_US} AS h_us,
         CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY 1
), hot AS (
  SELECT h_us, n FROM hours ORDER BY n DESC, h_us LIMIT {_HOT_TOP}
)
SELECT s.user_id, s.session_id, s.session_start_us, s.session_end_us,
       CAST(h.h_us AS BIGINT) AS hot_hour_us,
       h.n AS hour_events
FROM sess s JOIN hot h
  ON s.session_start_us < h.h_us + {_HOUR_US}
 AND s.session_end_us >= h.h_us
""",
)
def session_hot_hour_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user sessions (30-min gap sessionization)
    × the 20 globally busiest hours. The oracle states the textbook
    inequality join; Spark rewrites it as bucket EXPANSION + equi-join
    — each session explodes into the hour buckets it covers (bounded by
    session duration) and equi-joins the broadcast hot list. Provably
    identical output, and at 100 TB it is a map-side hash join instead
    of the inequality join's cartesian-per-key plan.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s1 = ev.withColumn(
        "brk",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > _SESS_GAP_US, 1
        ).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = s1.groupBy(
        "user_id", F.col("sid").cast("bigint").alias("session_id")
    ).agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )
    hours = ev.groupBy(
        ((F.col("ts_us") / _HOUR_US).cast("long") * _HOUR_US).alias(
            "h_us"
        )
    ).agg(F.count(F.lit(1)).alias("n"))
    from oracle_vector_search_spark.operators.topk import (
        global_topn_ranked,
    )

    hot = global_topn_ranked(
        hours, _HOT_TOP, F.desc("n"), F.asc("h_us")
    ).select("h_us", "n")
    covered = sess.withColumn(
        "h_us",
        F.explode(
            F.sequence(
                F.expr(f"(session_start_us div {_HOUR_US}) * {_HOUR_US}"),
                F.expr(f"(session_end_us div {_HOUR_US}) * {_HOUR_US}"),
                F.lit(_HOUR_US),
            )
        ),
    )
    return covered.join(F.broadcast(hot), "h_us").select(
        "user_id",
        "session_id",
        "session_start_us",
        "session_end_us",
        F.col("h_us").alias("hot_hour_us"),
        F.col("n").alias("hour_events"),
    )


_KM_HOUR_US = 3_600_000_000
_KM_CENSOR_HOURS = 6  # active within 6 h of the horizon → censored


@register(
    "kaplan_meier_user_survival",
    f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us FROM events
), u AS (
  SELECT user_id,
         (max(ts_us) - min(ts_us)) // {_KM_HOUR_US} AS life_h,
         max(ts_us) AS last_us
  FROM e GROUP BY user_id
), mx AS (
  SELECT max(ts_us) AS m FROM e
), lab AS (
  SELECT u.life_h,
         CASE WHEN u.last_us >= mx.m - {_KM_CENSOR_HOURS} * {_KM_HOUR_US}
              THEN 0 ELSE 1 END AS churned
  FROM u, mx
), grid AS (
  SELECT life_h AS t,
         CAST(count(*) AS BIGINT) AS total,
         CAST(sum(churned) AS BIGINT) AS d
  FROM lab GROUP BY life_h
), risk AS (
  SELECT t, d,
         sum(total) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
           AS n
  FROM grid
), times AS (
  SELECT t, d, CAST(n AS BIGINT) AS n FROM risk WHERE d > 0
), km AS (
  SELECT t, d, n,
         max(CASE WHEN d = n THEN 1 ELSE 0 END) OVER w AS hit_zero,
         sum(CASE WHEN d < n THEN ln(1.0 - d * 1.0 / n)
                  ELSE CAST(0 AS DOUBLE) END) OVER w AS lnsum
  FROM times
  WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
)
SELECT CAST(t AS BIGINT) AS t_hours, n AS n_at_risk, d AS n_churned,
       CASE WHEN hit_zero = 1 THEN CAST(0 AS DOUBLE)
            ELSE round(exp(lnsum), 6) END AS survival
FROM km
""",
)
def kaplan_meier_user_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes (first→last event, in
    whole hours), right-censored for users still active within 6 h of
    the corpus horizon — the product-limit estimator a retention
    analysis runs. n-at-risk is a reverse cumulative sum over the life
    grid (censored users count while at risk); the survival product is
    exp(Σ ln(1−d/n)) over the time-ordered window — identical fold
    order in both engines — with an exact-zero guard where d = n (ln
    would be −inf in one engine and NULL in the other).

    Scale shape: one user-key aggregation, one grid-sized reverse
    cumsum, one churn-times window. Nothing corpus-sized after the
    first groupBy.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns div 1000").alias("ts_us")
    )
    u = ev.groupBy("user_id").agg(
        F.expr(f"(max(ts_us) - min(ts_us)) div {_KM_HOUR_US}").alias(
            "life_h"
        ),
        F.max("ts_us").alias("last_us"),
    )
    mx = ev.agg(F.max("ts_us").alias("m"))
    lab = u.crossJoin(F.broadcast(mx)).select(
        "life_h",
        F.when(
            F.col("last_us")
            >= F.col("m") - _KM_CENSOR_HOURS * _KM_HOUR_US,
            0,
        )
        .otherwise(1)
        .alias("churned"),
    )
    grid = lab.groupBy(F.col("life_h").alias("t")).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum("churned").alias("d"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    times = (
        grid.withColumn("n", F.sum("total").over(w_desc).cast("bigint"))
        .filter(F.col("d") > 0)
        .select("t", F.col("d").cast("bigint").alias("d"), "n")
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    km = times.select(
        "t",
        "d",
        "n",
        F.max(
            F.when(F.col("d") == F.col("n"), 1).otherwise(0)
        )
        .over(w_asc)
        .alias("hit_zero"),
        F.sum(
            F.when(
                F.col("d") < F.col("n"),
                F.log(
                    F.lit(1.0)
                    - F.col("d") * F.lit(1.0) / F.col("n")
                ),
            ).otherwise(F.lit(0.0))
        )
        .over(w_asc)
        .alias("lnsum"),
    )
    return km.select(
        F.col("t").cast("bigint").alias("t_hours"),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_churned"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnsum"), 6))
        .alias("survival"),
    )


@register(
    "events_burstiness_fano",
    """
WITH h AS (
  SELECT event_type,
         (epoch_ns(ts) // 3600000000000) AS hour_bucket,
         CAST(count(*) AS BIGINT) AS k
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(k) AS BIGINT) AS s,
         CAST(sum(k * k) AS BIGINT) AS q
  FROM h GROUP BY event_type
)
SELECT event_type, n_hours, s AS n_events,
       round((n_hours * 1.0 * q - s * 1.0 * s)
             / (n_hours * 1.0 * (n_hours - 1)) / (s * 1.0 / n_hours),
             6) AS fano_factor
FROM m WHERE n_hours >= 2
""",
)
def events_burstiness_fano(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrival-process burstiness: the Fano factor (sample variance /
    mean of per-hour event counts) per type — 1 for a Poisson process,
    >1 bursty, <1 regular. The capacity-planning diagnostic for a
    streaming pipeline (state and sink sizing follow the burst, not
    the average). Exact integer moments over occupied hour buckets;
    one double formula.

    Scale shape: two bounded-key count aggregations; nothing per-row
    after the first groupBy.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_ns div 3600000000000").alias("hour_bucket"),
    )
    h = ev.groupBy("event_type", "hour_bucket").agg(
        F.count(F.lit(1)).alias("k")
    )
    m = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("k").alias("s"),
        F.sum(F.col("k") * F.col("k")).alias("q"),
    )
    return m.filter(F.col("n_hours") >= 2).select(
        "event_type",
        F.col("n_hours").cast("bigint").alias("n_hours"),
        F.col("s").cast("bigint").alias("n_events"),
        F.round(
            (
                F.col("n_hours") * F.lit(1.0) * F.col("q")
                - F.col("s") * F.lit(1.0) * F.col("s")
            )
            / (F.col("n_hours") * F.lit(1.0) * (F.col("n_hours") - 1))
            / (F.col("s") * F.lit(1.0) / F.col("n_hours")),
            6,
        ).alias("fano_factor"),
    )
