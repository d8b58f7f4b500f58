"""One owner per decision, for shuffles and micro-batch streams.

* ``session.get_spark`` is the only code that sizes shuffles: no other
  engine file mentions ``spark.sql.shuffle.partitions``.
* ``streaming.ops.drain_file_stream`` is the one micro-batch driver for
  the file-fed streams, restartable from its checkpoint: only it calls
  ``foreachBatch`` or sets ``maxFilesPerTrigger``.
* ``api.upsert_index`` is the one write path of the index
  (``api.build_index`` upserts into an empty index): ``api.py`` calls
  ``assign_index_ids_two_phase`` and ``write_index_table`` once each.
* ``operators.rowmap.map_rows`` is the one Arrow batch loop for row
  kernels: only it and the batch-wise stages in ``_BATCH_MAPS`` call
  ``mapInPandas``, ``applyInPandas`` or ``mapInArrow``.
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
_PANDAS_MAPS = {"mapInPandas", "applyInPandas", "mapInArrow"}
# (file, top-level function) → why it works on a batch or group, not a row
_BATCH_MAPS = {
    ("operators/rowmap.py", "map_rows"): "the row-map helper itself",
    ("operators/knn.py", "knn_exact_gemm"): "one GEMM per batch",
    ("operators/knn.py", "knn_exact_gemm_int8"): "one int8 GEMM per batch",
    ("operators/linalg.py", "gram_matrix"): "one partial Gram matrix "
    "per batch",
    ("operators/chunking.py", "pack_chunks_greedy"): "sequential greedy "
    "packing over a whole shard",
    ("sources/images.py", "embed_crops"): "one embedding call per batch",
    ("sources/images.py", "embed_labelled_crops"): "a cogroup per stem, "
    "its crops embedded in one call",
    ("queries/grouped_map_queries.py", "grouped_map_centroids"): "a "
    "numpy mean per label group",
    ("queries/grouped_map_queries.py", "cogroup_user_reconcile"): "a "
    "cogroup per user",
    ("queries/curation_queries.py", "video_keyframe_knn"): "one "
    "embedding call per batch of frames",
}


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


def test_row_kernels_run_through_map_rows():
    found = _owners_of(
        lambda n: isinstance(n, ast.Attribute) and n.attr in _PANDAS_MAPS
    )
    assert found <= set(_BATCH_MAPS), (
        "run row kernels through operators.rowmap.map_rows: "
        f"{sorted(found - set(_BATCH_MAPS))}"
    )
    # a stale allow-list entry hides nothing but misleads the reader
    assert found == set(_BATCH_MAPS), sorted(set(_BATCH_MAPS) - found)
