"""Top-k operators (SURVEY.md §2.6 A1/A2, §2.3 T13).

The reference's two top-k shapes: global best-of (argmax over YOLO boxes,
app.py:121-125) and per-group ranked top-k (FAISS k=5 per query,
app.py:142-143). Both are Catalyst-native here:

* global: ``orderBy(...).limit(k)`` → Catalyst plans
  ``TakeOrderedAndProject`` — per-partition partial top-k, then a single
  driver-side merge of partitions×k rows. No full sort, no full shuffle.
* per-group: ``row_number`` over a window + filter — Spark ≥3.5 pushes a
  ``WindowGroupLimit`` below the shuffle so each map task emits at most
  k rows per group.

Determinism rule: every ordering carries an explicit id tie-break so
results are stable under float ties and partitioning (A5 discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window, functions as F


def top_k_global(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """Global top-k: ``TakeOrderedAndProject`` plan, never a full sort."""
    return df.orderBy(*order).limit(k)


def global_topn_ranked(
    df: DataFrame, k: int, *order: Column, rank_col: str = "rank"
) -> DataFrame:
    """Global top-k WITH a dense 1..k rank column, warning-free.

    Writing this as ``row_number() OVER (ORDER BY ...)`` + ``rank <= k``
    produces the right physical plan (Spark rewrites it into
    TakeOrderedAndProject feeding a k-row window) but logs the scary
    "No Partition Defined for Window operation" warning on every run,
    which buries REAL single-partition hazards in bench/oracle logs.
    This shape is equivalent and silent: take the k rows first
    (TakeOrderedAndProject — per-partition partial top-k, merge of
    partitions×k rows), then rank only those k rows under a constant
    non-empty partition spec. The window input is k rows by
    construction, so the single partition is the point, not a hazard.

    The partition anchor must be constant-valued but NOT foldable:
    Spark 4's EliminateWindowPartitions strips foldable expressions
    (``lit(1)`` degrades back to the warning case), so we anchor on
    ``pmod(hash(first_col), 1)`` — always 0, but opaque to the
    optimizer because it references a real column."""
    top = df.orderBy(*order).limit(k)
    anchor = F.pmod(F.hash(F.col(df.columns[0])), F.lit(1))
    w = Window.partitionBy(anchor).orderBy(*order)
    return top.withColumn(rank_col, F.row_number().over(w))


def bounded_global_order(
    df: DataFrame,
    *order: Column,
    bound: str = "",
    max_rows: int | None = None,
):
    """Globally-ordered WindowSpec for an input that is BOUNDED BY
    CONSTRUCTION (a handful of sources, distinct integer scores, a
    just-limited top-k) — cases where one task is the point, not a
    hazard.

    Uses the same constant-but-unfoldable partition anchor as
    ``global_topn_ranked`` (``pmod(hash(first_col), 1)`` — always 0,
    but opaque to ``EliminateWindowPartitions``), so the plan carries a
    non-empty partitionSpec: Spark's "No Partition Defined" warning
    stays out of the logs and tools/plan_lint.py's
    ``global_window_over_unaggregated`` rule — which (r10) treats even
    Aggregate-rooted empty-spec windows as findings, because a keyed
    aggregate may still be vocabulary-sized — reads the anchor as the
    in-code adjudication that the caller has argued boundedness.
    Callers MUST state the bound via the required ``bound=`` keyword
    (ADVICE r10: comment-discipline alone lets any future unbounded
    window self-exempt by wrapping) — a short human-readable argument
    for WHY the input can't be corpus-sized, e.g. ``"distinct integer
    score grid (<= 10k values)"``. For top-k head slices use
    ``global_topn_ranked`` instead.

    ``max_rows`` optionally makes the claim executable: when the
    ``OVS_ASSERT_BOUNDS=1`` env var is set (targeted tests / debug —
    it triggers an eager count per call), the helper counts ``df`` and
    raises if the stated bound is exceeded.

    With no order columns, returns the bare anchored partition spec
    (full-frame aggregation windows, e.g. waterfilling round sums)."""
    if not bound:
        raise ValueError(
            "bounded_global_order requires bound= stating why the "
            "input is bounded by construction (use global_topn_ranked "
            "for head slices)"
        )
    if max_rows is not None and os.environ.get("OVS_ASSERT_BOUNDS") == "1":
        n = df.count()
        if n > max_rows:
            raise AssertionError(
                f"bounded_global_order: input has {n} rows, caller "
                f"claimed <= {max_rows} ({bound!r})"
            )
    anchor = F.pmod(F.hash(F.col(df.columns[0])), F.lit(1))
    w = Window.partitionBy(anchor)
    return w.orderBy(*order) if order else w


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    *order: Column,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group via row_number (WindowGroupLimit-optimized)."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
