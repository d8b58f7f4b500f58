"""Per-process scratch directories with guaranteed cleanup.

Every at-rest artifact the engine materializes during a session —
index tables, posting lists, LSH buckets, MinHash signatures,
streaming sinks/checkpoints, bucketed join tables — lives under ONE
per-process root created lazily on first use and removed at
interpreter exit (atexit). Previously each site called
``tempfile.mkdtemp`` directly and the directories accumulated across
runs; now a crashed or finished run leaves at most the root that was
live at crash time.

Which artifacts exist, and when one is built, is decided by
``io.at_rest``: each artifact's build runs once per Spark application
and writes under a ``scratch_dir``; later calls reuse its path.

In a real deployment these would be warehouse paths with a retention
policy; the single-root-plus-atexit shape is the local-mode stand-in.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_ROOT: str | None = None


def _cleanup() -> None:
    global _ROOT
    if _ROOT is not None:
        shutil.rmtree(_ROOT, ignore_errors=True)
        _ROOT = None


def scratch_root() -> str:
    """The process-wide scratch root (created on first call)."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="ovs_scratch_")
        atexit.register(_cleanup)
    return _ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh directory under the scratch root — drop-in replacement
    for ``tempfile.mkdtemp(prefix=...)`` at every materialization site."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())
