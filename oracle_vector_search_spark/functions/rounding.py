"""Registry-wide rounding policy for signed float score columns.

Policy (VERDICT r6 "What's wrong"): every float column the driver
hash-compares is rounded to a fixed number of decimals on BOTH engines,
and any column whose value can be *negative* must additionally be
normalized ``+ 0.0`` after the rounding.  Rationale: a tiny negative
(e.g. −3e−9) rounds to **−0.0** in DuckDB but **+0.0** in Spark (the
engines agree to ~1e−17 before rounding; the divergence is purely which
IEEE zero ``round()`` emits), and the driver's value hash distinguishes
the two bit patterns.  ``x + 0.0`` maps −0.0 → +0.0 under
round-to-nearest and is the identity on every other value, so applying
it after rounding is always safe.

Spark side:  ``round_signed(col)``              (this module)
Oracle side: ``round(expr, 6) + 0.0 AS name``   (inline in the SQL)

Money columns are integerized instead: ``cents(col)`` is
``floor(x * 100)`` as BIGINT on the Spark side, paired with
``CAST(floor(x * 100) AS BIGINT)`` in the oracle SQL.

``tools/oracle_check.py`` enforces the policy end-to-end: its compare
flags any +0.0 / −0.0 sign disagreement between the engines as a hard
failure, matching the driver's bit-pattern hash.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def round_signed(col: Column | str, scale: int = 6) -> Column:
    """Round to ``scale`` decimals and normalize −0.0 to +0.0.

    Use for every output column that can take negative values
    (correlations, covariances, deltas, log-ratios, centered scores);
    pair with ``round(x, scale) + 0.0`` in the DuckDB oracle SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, scale) + F.lit(0.0)


def cents(col: Column | str) -> Column:
    """``floor(x * 100)`` as BIGINT: the deterministic per-row
    integerization of money columns, so sums hash-match the oracle's
    ``CAST(floor(x * 100) AS BIGINT)`` exactly."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100).cast("long")
