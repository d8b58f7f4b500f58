"""The session memo behind every at-rest artifact (io.at_rest), and a
guard that keeps it the only one.

The helper tests use a stub session (only ``.sparkContext.applicationId``
is read) and a private memo, so they never evict the real session's
artifacts. The nested-build test runs the real TF-IDF builder, which
builds the posting tables inside its own build.
"""

from __future__ import annotations

import ast
import os
import re
from types import SimpleNamespace

import pytest

from oracle_vector_search_spark import io


def _stub(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def memo(monkeypatch):
    monkeypatch.setattr(io, "_AT_REST", {})


def test_build_runs_once_per_key(memo):
    spark, calls = _stub("app-1"), []

    def build(tag):
        calls.append(tag)
        return f"path-{tag}"

    assert io.at_rest(spark, ("a", "sf"), lambda: build("a")) == "path-a"
    assert io.at_rest(spark, ("a", "sf"), lambda: build("a2")) == "path-a"
    assert io.at_rest(spark, ("b", "sf"), lambda: build("b")) == "path-b"
    assert calls == ["a", "b"]
    assert io.at_rest_built(spark, ("a", "sf"))
    assert not io.at_rest_built(spark, ("c", "sf"))


def test_raising_build_stores_nothing(memo):
    spark = _stub("app-1")

    def boom():
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        io.at_rest(spark, "k", boom)
    assert not io.at_rest_built(spark, "k")
    assert io.at_rest(spark, "k", lambda: "retried") == "retried"


def test_new_application_drops_earlier_entries(memo):
    old, new = _stub("app-1"), _stub("app-2")
    io.at_rest(old, "k", lambda: "old-path")
    assert io.at_rest(new, "k", lambda: "new-path") == "new-path"
    assert list(io._AT_REST) == ["app-2"]
    # the old application's entry is gone, not shadowed
    assert io.at_rest(old, "k", lambda: "rebuilt") == "rebuilt"
    assert list(io._AT_REST) == ["app-1"]


def test_nested_builds(memo):
    spark, calls = _stub("app-1"), []

    def inner():
        calls.append("inner")
        return "postings"

    def outer():
        calls.append("outer")
        return io.at_rest(spark, "inner", inner) + "+idf"

    assert io.at_rest(spark, "outer", outer) == "postings+idf"
    assert io.at_rest(spark, "outer", outer) == "postings+idf"
    assert io.at_rest(spark, "inner", inner) == "postings"
    assert calls == ["outer", "inner"]


def test_tfidf_builds_postings_inside_its_build(spark, sf_dir, memo):
    from oracle_vector_search_spark.queries.training_queries import (
        _posting_tables,
        _tfidf_tables,
    )

    idf, norms = _tfidf_tables(spark, sf_dir)
    assert io.at_rest_built(spark, (_posting_tables, sf_dir))
    assert io.at_rest_built(spark, (_tfidf_tables, sf_dir))
    assert idf.count() > 0 and norms.count() > 0
    postings, stats = _posting_tables(spark, sf_dir)
    assert stats.count() == 1 and postings.count() > 0


# ------------------------------------------------------------ guard
_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "oracle_vector_search_spark",
)
# the only modules that may key state by Spark application
_APP_ID_READERS = {"io.py", os.path.join("plans", "ckpt.py")}
# per-executor-process model caches: keyed by weights, not by session
_MODEL_CACHES = {
    (os.path.join("functions", "convnet_numpy.py"), "_WEIGHT_CACHE"),
    (os.path.join("sources", "images.py"), "_RESNET_CACHE"),
    (os.path.join("sources", "images.py"), "_YOLO_CACHE"),
}


def _engine_modules():
    for root, _, files in os.walk(_PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, _PKG), path


def _is_dict(node) -> bool:
    return isinstance(node, (ast.Dict, ast.DictComp)) or (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
    )


def test_session_memo_has_one_owner():
    offenders = []
    for rel, path in _engine_modules():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        if rel not in _APP_ID_READERS:
            offenders += [
                f"{rel}:{n.lineno} reads applicationId"
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr == "applicationId"
            ]
        for stmt in tree.body:
            if isinstance(stmt, ast.Assign):
                targets, value = stmt.targets, stmt.value
            elif isinstance(stmt, ast.AnnAssign):
                targets, value = [stmt.target], stmt.value
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and re.fullmatch(r"_\w*_CACHE", t.id)
                    and value is not None
                    and _is_dict(value)
                    and (rel, t.id) not in _MODEL_CACHES
                ):
                    offenders.append(
                        f"{rel}:{stmt.lineno} defines {t.id}; "
                        "use io.at_rest"
                    )
    assert not offenders, "\n".join(offenders)
