"""Pins have one owner: plans/ckpt.py. Engine code takes a checkpoint
with ``pin()`` and releases it with ``unpin()`` or its query's next
invocation; no function hand-writes a release key."""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "oracle_vector_search_spark",
)

# (file, enclosing function) -> why a raw localCheckpoint is right there
_RAW_CHECKPOINT_ALLOWED = {
    ("api.py", "search"): "lazy and caller-owned: N live results must "
    "coexist (test_live_results_coexist_across_invocations)",
    ("api.py", "search_radius"): "lazy and caller-owned, as in search",
    ("queries/ann_queries.py", "_audit_tables"): "owned by at_rest and "
    "built on pool threads",
    ("operators/linalg.py", "power_iteration"): "lazy: the symmetric "
    "matrix pins on its first use",
}
_RETIRED_NAMES = {
    "keyed_local_checkpoint", "release_key", "RoundScope", "ckpt_key",
}


def _engine_modules():
    for root, _, files in os.walk(_PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, _PKG), ast.parse(fh.read())


def _calls_by_function(tree):
    """(enclosing top-level function or None, Call node) pairs."""
    for top in tree.body:
        name = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
            else None
        )
        for n in ast.walk(top):
            if isinstance(n, ast.Call):
                yield name, n


def test_local_checkpoint_only_in_ckpt_module_and_allow_list():
    found = set()
    offenders = []
    for rel, tree in _engine_modules():
        if rel == os.path.join("plans", "ckpt.py"):
            continue
        for fn, call in _calls_by_function(tree):
            f = call.func
            if isinstance(f, ast.Attribute) and f.attr == "localCheckpoint":
                if (rel, fn) in _RAW_CHECKPOINT_ALLOWED:
                    found.add((rel, fn))
                else:
                    offenders.append(f"{rel}:{call.lineno} in {fn}")
    assert not offenders, (
        "take checkpoints with plans.ckpt.pin():\n" + "\n".join(offenders)
    )
    # a stale allow-list entry hides nothing but misleads the reader
    assert found == set(_RAW_CHECKPOINT_ALLOWED)


def test_no_hand_written_release_keys():
    offenders = []
    for rel, tree in _engine_modules():
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                args = n.args
                params = args.posonlyargs + args.args + args.kwonlyargs
                offenders += [
                    f"{rel}:{n.lineno} {n.name}({a.arg})"
                    for a in params
                    if a.arg == "ckpt_key"
                ]
            name = (
                n.id if isinstance(n, ast.Name)
                else n.attr if isinstance(n, ast.Attribute)
                else n.name if isinstance(n, ast.alias)
                else None
            )
            if name in _RETIRED_NAMES:
                offenders.append(f"{rel}:{getattr(n, 'lineno', '?')} {name}")
    assert not offenders, "\n".join(offenders)
