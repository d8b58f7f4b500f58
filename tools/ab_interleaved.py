#!/usr/bin/env python
"""Interleaved A/B: old (a git ref) vs new (working tree) query impls.

Alternates old/new run-for-run in ONE session so ambient host phases
hit both variants (the r15 methodology). Any registered query works:
the old version is loaded from the base ref's copy of the file that
defines the registered function. Usage:
    python tools/ab_interleaved.py <base_ref> <sf_dir> <pairs> <query...>
<base_ref> is the commit before the change under test (e.g. HEAD~1
once the change is committed; HEAD only while it is uncommitted).
"""
import inspect
import os
import statistics
import subprocess
import sys
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

if len(sys.argv) < 5:
    sys.exit(__doc__)
base_ref = sys.argv[1]
sf_dir = sys.argv[2]
pairs = int(sys.argv[3])
names = sys.argv[4:]

from oracle_vector_search_spark.session import get_spark  # noqa: E402
import oracle_vector_search_spark.queries as Q  # noqa: E402
import __spark_entry__ as entry  # noqa: E402

spark = get_spark("ab_interleaved")
new_qs = entry.queries()

_old_mod_cache = {}


def load_old_fn(qname):
    """The base ref's version of a registered query: the module that
    defines the registered function, as of <base_ref>, executed with
    registration switched off."""
    fn = inspect.unwrap(new_qs[qname])  # registered queries are wrappers
    path = os.path.relpath(inspect.getsourcefile(fn), ROOT)
    if path not in _old_mod_cache:
        src = subprocess.check_output(
            ["git", "-C", ROOT, "show", f"{base_ref}:{path}"]
        ).decode()
        mod = types.ModuleType(f"old_{path.replace('/', '_')}")
        orig = Q.register
        Q.register = lambda name, sql: (lambda fn: fn)
        try:
            exec(compile(src, f"{base_ref}:{path}", "exec"), mod.__dict__)
        finally:
            Q.register = orig
        _old_mod_cache[path] = mod
    return getattr(_old_mod_cache[path], fn.__name__)


for qname in names:
    old_fn = load_old_fn(qname)
    new_fn = new_qs[qname]
    # one untimed warm run each (at-rest table writes, JIT, footers)
    old_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    new_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    olds, news = [], []
    for _ in range(pairs):
        t0 = time.time()
        old_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        olds.append(time.time() - t0)
        t0 = time.time()
        new_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        news.append(time.time() - t0)
    print(
        f"{qname}: old min={min(olds):.3f} med={statistics.median(olds):.3f}"
        f" | new min={min(news):.3f} med={statistics.median(news):.3f}"
        f"  ({pairs} interleaved pairs)"
    )
    sys.stdout.flush()
