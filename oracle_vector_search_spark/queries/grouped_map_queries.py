"""Grouped-map (applyInPandas) + stateful streaming coverage
(SURVEY.md §2.8 UDF surface).

``applyInPandas`` is the engine's UDAF/grouped-transform escape hatch:
one pandas DataFrame per group in, one out, Arrow both ways. The demo
computes per-label embedding centroids in numpy — and because the math
is a plain mean, the DuckDB oracle checks the pandas path exactly.

``applyInPandasWithState`` is the custom-stateful-streaming operator
(arbitrary per-key state across micro-batches) — a running per-user
event counter; arrival-order dependent in general, but with a bounded
source drained in one pass the final counts equal the batch
aggregation, so it's oracle-checked too.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from oracle_vector_search_spark.io import load_table
from oracle_vector_search_spark.operators.topk import top_k_per_group
from oracle_vector_search_spark.queries import register

N_DIMS_OUT = 8


@register(
    "grouped_map_centroids",
    f"""
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       {", ".join(
           f"round(avg((embedding::DOUBLE[])[{i + 1}]), 6) AS c{i}"
           for i in range(N_DIMS_OUT)
       )}
FROM embeddings
GROUP BY label
""",
)
def grouped_map_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid via applyInPandas (numpy mean per group) —
    the grouped-map UDF path, oracle-checked against plain SQL."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")

    out_cols = ", ".join(f"c{i} double" for i in range(N_DIMS_OUT))
    schema = f"label int, n_vectors long, {out_cols}"

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.array(list(pdf["embedding"]), dtype=np.float64)
        mean = m.mean(axis=0)[:N_DIMS_OUT]
        row = {"label": pdf["label"].iloc[0], "n_vectors": len(pdf)}
        for i in range(N_DIMS_OUT):
            row[f"c{i}"] = round(float(mean[i]), 6)
        return pd.DataFrame([row])

    return emb.select("label", "embedding").groupBy("label").applyInPandas(
        centroid, schema=schema
    )


@register(
    "stateful_user_counts",
    """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM events
GROUP BY user_id
""",
)
def stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op: per-user running (count, value-sum)
    via applyInPandasWithState. The bounded stream drains fully, so the
    final state equals the batch aggregation — oracle-checked."""
    from oracle_vector_search_spark.streaming.ops import (
        run_to_memory,
        stream_events,
    )

    ev = stream_events(spark, sf_dir).select("user_id", "value")

    out_schema = "user_id long, n_events long, sum_value_cents long"
    state_schema = "n long, cents long"

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        import math

        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                sum(math.floor(v * 100) for v in pdf["value"])
            )
        state.update((n, cents))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "sum_value_cents": cents}]
        )

    updated = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mem = run_to_memory(updated, "update")
    # update mode may emit one row per (user, batch); keep the last state
    return top_k_per_group(mem, ["user_id"], 1, F.desc("n_events")).select(
        "user_id", "n_events", "sum_value_cents"
    )


@register(
    "cogroup_user_reconcile",
    """
WITH ev AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS events_cents
  FROM events GROUP BY user_id
),
od AS (
  SELECT o_custkey AS user_id,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS orders_cents
  FROM orders GROUP BY o_custkey
)
SELECT coalesce(ev.user_id, od.user_id) AS user_id,
       CAST(coalesce(ev.n_events, 0) AS BIGINT) AS n_events,
       CAST(coalesce(od.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(coalesce(ev.events_cents, 0) AS BIGINT) AS events_cents,
       CAST(coalesce(od.orders_cents, 0) AS BIGINT) AS orders_cents
FROM ev FULL OUTER JOIN od ON od.user_id = ev.user_id
ORDER BY user_id
""",
)
def cogroup_user_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table grouped reconciliation via ``cogroup.applyInPandas`` —
    the engine's two-sided custom-aggregation surface (one pandas frame
    per key from EACH side, including keys present on only one side).
    The pandas body is integer-cents arithmetic, so the escape hatch is
    oracle-checked exactly like the built-in path. Use sparingly at
    scale: the cogroup shuffles both tables on the key — here it stands
    in for logic a FULL OUTER JOIN + aggregate can't express (per-key
    imperative reconciliation)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )

    def reconcile(
        key: tuple, ev_pdf: pd.DataFrame, od_pdf: pd.DataFrame
    ) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {
                    "user_id": int(key[0]),
                    "n_events": int(len(ev_pdf)),
                    "n_orders": int(len(od_pdf)),
                    "events_cents": int(ev_pdf["cents"].sum()),
                    "orders_cents": int(od_pdf["cents"].sum()),
                }
            ]
        )

    out_schema = (
        "user_id long, n_events long, n_orders long, "
        "events_cents long, orders_cents long"
    )
    return (
        ev.groupBy("user_id")
        .cogroup(od.groupBy("user_id"))
        .applyInPandas(reconcile, schema=out_schema)
        .orderBy("user_id")
    )
