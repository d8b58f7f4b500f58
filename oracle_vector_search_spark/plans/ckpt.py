"""The one owner of ``localCheckpoint`` pins.

``DataFrame.localCheckpoint()`` pins MEMORY_AND_DISK blocks that are
only reclaimed when the JVM ContextCleaner happens to GC the RDD
reference. A long-lived session that re-invokes a pinning query, or
runs a many-round loop, would otherwise hold dead blocks for as long
as GC takes. This module decides when pins are released; no query or
operator does.

* :func:`pin` — an eager ``localCheckpoint``. Inside a scope the pin is
  recorded by that scope; outside any scope (public ``api.*`` callers,
  external callers, pool threads) it is GC-owned.
* :func:`unpin` — releases now the recorded pins that a frame reads
  (a pinned frame, or any frame derived from pinned ones). Loops call
  it on the previous round once the new round is pinned; a pin that
  only feeds a completed write is unpinned right after the write.
* :func:`owned_by` — a scope. ``queries.register`` runs every
  registered query under ``owned_by((name, sf_dir))``: entering it
  again releases everything the previous invocation of the same key
  pinned (the consume-before-reinvoke contract of the registry; two
  concurrent invocations of one key would release each other's pins).
  The outermost scope decides: a registered query called from inside
  another one, or from inside an ``io.at_rest`` build, joins the
  outer scope. ``io.at_rest`` builds under ``owned_by(None)``, which
  records pins for in-build :func:`unpin` but never releases them on
  a re-invocation, so a memoized value stays readable.

Ownership is the checkpointed RDD's own id: the analyzed plan of a
checkpointed Dataset is ``LogicalRDD(rdd)`` wrapping exactly the RDD
``localCheckpoint`` persisted. A diff of ``getPersistentRDDs`` around
the call would over-capture: a ``persist()``-ed subtree that
materializes inside the checkpoint's job would be released with it.
Only ids that :func:`pin` recorded are ever released, so bystander
caches and ``createDataFrame`` RDDs in the same plan are never
touched. If the plan shape stops exposing the id, ownership degrades
to GC — never to a guess.

Public API results are caller-owned: a caller may hold N live results
of ``api.search`` and collect them in any order, so no API entry point
returns a frame whose pins a later call releases (``api.search`` takes
a lazy, GC-owned ``localCheckpoint(eager=False)`` per call;
``api.upsert_index`` pins its batch outside any scope, so GC owns it).
"""

from __future__ import annotations

import threading
from collections.abc import Hashable, Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


class _Scope:
    """The pins one scope recorded, and the context they live in."""

    __slots__ = ("ids", "sc")

    def __init__(self) -> None:
        self.ids: set[int] = set()
        self.sc = None

    def release(self, ids: set[int]) -> None:
        self.ids -= ids
        jsc = getattr(self.sc, "_jsc", None)
        if not ids or jsc is None:  # stopped context: its ids are dead
            return
        jmap = jsc.getPersistentRDDs()
        for rid in ids:
            rdd = jmap.get(rid)
            if rdd is not None:
                rdd.unpersist(False)


# the innermost active scope of this thread (absent: no scope)
_local = threading.local()
# key -> the scope of its latest invocation
_OWNED: dict[Hashable, _Scope] = {}


def _checkpoint_leaf_ids(df: DataFrame) -> set[int]:
    """Ids of the ``LogicalRDD`` leaves of ``df``'s analyzed plan."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return {
            int(leaf.rdd().id())
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
            if leaf.nodeName() == "LogicalRDD"
        }
    except (AttributeError, Py4JError):  # no JVM plan: GC owns it
        return set()


def pin(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` (eager), recorded by the active scope."""
    cp = df.localCheckpoint()
    scope = getattr(_local, "scope", None)
    if scope is not None:
        scope.sc = cp.sparkSession.sparkContext
        scope.ids |= _checkpoint_leaf_ids(cp)
    return cp


def unpin(df: DataFrame) -> None:
    """Release now the active scope's pins that ``df`` reads."""
    scope = getattr(_local, "scope", None)
    if scope is not None and scope.ids:
        scope.release(_checkpoint_leaf_ids(df) & scope.ids)


@contextmanager
def owned_by(key: Hashable | None) -> Iterator[None]:
    """Scope the pins taken inside to ``key``; see the module doc."""
    outer = getattr(_local, "scope", None)
    if key is not None and outer is not None:
        yield  # the outermost scope decides
        return
    scope = _Scope()
    if key is not None:
        stale = _OWNED.pop(key, None)
        if stale is not None:
            stale.release(set(stale.ids))
        _OWNED[key] = scope
    _local.scope = scope
    try:
        yield
    finally:
        _local.scope = outer
