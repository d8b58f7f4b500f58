"""Engine invariants are real exceptions, not ``assert`` statements:
``python -O`` strips asserts, so a guard written as one silently stops
guarding. Tests may assert; engine modules must raise."""

from __future__ import annotations

import ast
import os

import pytest

from oracle_vector_search_spark.plans.inspect import (
    assert_plan_contains,
    assert_plan_lacks,
)

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "oracle_vector_search_spark",
)


def test_engine_has_no_assert_statements():
    offenders = []
    for root, _, files in os.walk(_PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            offenders += [
                f"{os.path.relpath(path, _PKG)}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Assert)
            ]
    assert not offenders, (
        "raise an exception instead of assert in engine code:\n"
        + "\n".join(offenders)
    )


def test_plan_helpers_still_raise_assertion_error(spark):
    df = spark.range(3).filter("id > 1")
    with pytest.raises(AssertionError, match="plan lacks"):
        assert_plan_contains(df, "NoSuchOperator")
    with pytest.raises(AssertionError, match="unexpectedly contains"):
        assert_plan_lacks(df, "Filter")
