"""One owner per decision, for shuffles and micro-batch streams.

* ``session.get_spark`` is the only code that sizes shuffles: no other
  engine file mentions ``spark.sql.shuffle.partitions``.
* ``streaming.ops.drain_file_stream`` is the one micro-batch driver for
  the file-fed streams, restartable from its checkpoint: only it calls
  ``foreachBatch`` or sets ``maxFilesPerTrigger``.
* ``api.upsert_index`` is the one write path of the index
  (``api.build_index`` upserts into an empty index): ``api.py`` calls
  ``assign_index_ids_two_phase`` and ``write_index_table`` once each.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "oracle_vector_search_spark",
)
_STREAM_OWNERS = {("streaming/ops.py", "drain_file_stream")}


def _engine_sources():
    for root, _, files in os.walk(_PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
                    yield rel, fh.read()


def _owners_of(match) -> set[tuple[str, str | None]]:
    """(file, enclosing top-level function) of every node ``match``
    accepts, over the whole engine."""
    found = set()
    for rel, src in _engine_sources():
        for top in ast.parse(src).body:
            fn = (
                top.name
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                else None
            )
            if any(match(n) for n in ast.walk(top)):
                found.add((rel, fn))
    return found


def test_only_the_session_sizes_shuffles():
    offenders = [
        rel
        for rel, src in _engine_sources()
        if "spark.sql.shuffle.partitions" in src and rel != "session.py"
    ]
    assert not offenders, offenders


def test_foreach_batch_only_in_the_stream_owners():
    found = _owners_of(
        lambda n: isinstance(n, ast.Attribute) and n.attr == "foreachBatch"
    )
    assert found == _STREAM_OWNERS, sorted(found - _STREAM_OWNERS)


def test_max_files_per_trigger_only_in_the_stream_owners():
    found = _owners_of(
        lambda n: isinstance(n, ast.Constant)
        and n.value == "maxFilesPerTrigger"
    )
    assert found == _STREAM_OWNERS, sorted(found - _STREAM_OWNERS)


def test_one_index_write_path():
    with open(os.path.join(_PKG, "api.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    calls = Counter(
        n.func.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    )
    assert calls["assign_index_ids_two_phase"] == 1
    assert calls["write_index_table"] == 1
