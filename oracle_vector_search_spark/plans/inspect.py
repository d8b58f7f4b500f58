"""Physical-plan inspection — make plan quality testable.

The engine's scale guarantees are properties of the PLAN, not the
output: filters pushed into scans, dimension joins broadcast, top-k as
TakeOrderedAndProject / WindowGroupLimit, no Exchange on co-located
joins. These helpers let tests assert those properties so a future
refactor that silently degrades a plan (e.g. loses a pushdown behind a
UDF) fails CI instead of shipping a 100 TB regression.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# every physical operator that hands rows to a Python worker; each one
# costs a Python runner per task it runs in
PYTHON_OPERATORS = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|FlatMapGroupsInArrow|FlatMapCoGroupsInArrow"
)


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """explain("formatted") output (includes PushedFilters/ReadSchema)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def python_operators(plan: str) -> list[str]:
    """The Python operators named in a plan string, in plan order."""
    return PYTHON_OPERATORS.findall(plan)


def assert_plan_contains(df: DataFrame, *needles: str) -> None:
    plan = formatted_plan(df)
    missing = [n for n in needles if n not in plan]
    if missing:
        raise AssertionError(f"plan lacks {missing}:\n{plan}")


def assert_plan_lacks(df: DataFrame, *needles: str) -> None:
    plan = formatted_plan(df)
    present = [n for n in needles if n in plan]
    if present:
        raise AssertionError(
            f"plan unexpectedly contains {present}:\n{plan}"
        )
