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
* ``operators.topk.top_k_per_group`` is the one per-group top-k: only
  ``operators/topk.py`` and the row-numbering sites in ``_ROW_NUMBERS``
  call ``F.row_number``.
* ``pyworker`` is the one Python worker bootstrap: only ``session.py``
  names ``spark.python.daemon.module`` and only ``pyworker.py`` assigns
  to ``zipimport``.
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
# (file, top-level function) → why it numbers rows instead of cutting a
# per-group top-k with a constant k
_ROW_NUMBERS = {
    ("operators/dedup.py", "prefix_filter_jaccard_join"): "the prefix "
    "length is a per-row expression of the set size",
    ("operators/ingest.py", "assign_index_ids"): "dense ids for every row",
    ("operators/ingest.py", "assign_index_ids_two_phase"): "dense "
    "per-partition ranks for every row",
    ("operators/sft.py", "turn_alternation_stats"): "turn index of every "
    "turn",
    ("queries/curation_queries.py", "dsir_importance_select"): "position "
    "in a score-tie group, compared with a data-dependent quota",
    ("queries/curation_queries.py", "largest_remainder_allocation"): "the "
    "round-robin order of every source",
    ("queries/curation_queries.py", "temperature_mixture_allocation"): "the "
    "round-robin order of every source",
    ("queries/dedup_queries.py", "dedup_keep_best"): "the rank-1 member is "
    "picked inside an aggregate that also counts every member",
    ("queries/feature_queries.py", "sprt_ab_sequential_test"): "the step "
    "index of a running sum",
    ("queries/feature_queries.py", "split_conformal_intervals"): "an order "
    "statistic at a data-dependent rank",
    ("queries/feature_queries.py", "qq_deciles_by_arm"): "order "
    "statistics at data-dependent ranks",
    ("queries/preference_queries.py", "preference_pairs_dpo"): "top and "
    "bottom ranks from one pass, paired on the rank number",
    ("queries/relational_queries.py", "supplier_running_revenue"): "the "
    "row number is an output column of every row",
    ("queries/scale_queries.py", "two_pass_exact_median"): "the median's "
    "rank inside its bucket is data-dependent",
    ("queries/sft_queries.py", "sft_loss_mask_accounting"): "turn index "
    "of every turn",
    ("queries/sft_queries.py", "bleu2_pair_eval"): "pairs consecutive "
    "rows by their number",
    ("queries/streaming_queries.py", "streaming_weighted_reservoir"): "numbers "
    "the drained reservoir, already at most k rows per source",
    ("queries/temporal_queries.py", "scd2_user_type_intervals"): "SCD2 "
    "version of every row",
    ("queries/temporal_queries.py", "scd2_point_in_time_join"): "SCD2 "
    "version of every row",
    ("queries/temporal_queries.py", "temporal_holdout_split"): "the kept "
    "row carries its group's size from a sibling window over every row",
    ("queries/training_queries.py", "hybrid_rrf_retrieval_top10"): "full "
    "lexical and vector ranks of every document, fused before any cut",
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


def test_per_group_top_k_runs_through_top_k_per_group():
    found = {
        (rel, fn)
        for rel, fn in _owners_of(
            lambda n: isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "row_number"
        )
        if rel != "operators/topk.py"
    }
    assert found <= set(_ROW_NUMBERS), (
        "cut per-group top-k with operators.topk.top_k_per_group: "
        f"{sorted(found - set(_ROW_NUMBERS))}"
    )
    assert found == set(_ROW_NUMBERS), sorted(set(_ROW_NUMBERS) - found)


def _assigns_to_zipimport(n) -> bool:
    if isinstance(n, ast.Assign):
        targets = n.targets
    elif isinstance(n, (ast.AugAssign, ast.AnnAssign)):
        targets = [n.target]
    elif (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Name)
        and n.func.id == "setattr"
    ):
        targets = n.args[:1]
    else:
        return False
    for t in targets:
        while isinstance(t, ast.Attribute):
            t = t.value
        if isinstance(t, ast.Name) and t.id == "zipimport":
            return True
    return False


def test_one_python_worker_bootstrap():
    named = _owners_of(
        lambda n: isinstance(n, ast.Constant)
        and n.value == "spark.python.daemon.module"
    )
    assert named == {("session.py", "get_spark")}, sorted(named)
    patched = _owners_of(_assigns_to_zipimport)
    assert patched == {("pyworker.py", None)}, sorted(patched)
