"""The engine's Python daemon (``oracle_vector_search_spark.pyworker``).

A zip importer re-reads its archive only when the archive changed, and
every importer over a changed archive re-reads it, so ``addPyFile`` and
replaced zips keep importing their new modules. ``get_spark`` names the
daemon only where a worker can import the engine.
"""

from __future__ import annotations

import importlib.util
import os
import site
import sys
import zipfile
import zipimport

import pytest

from oracle_vector_search_spark import session
# patches this process's importers too
from oracle_vector_search_spark import pyworker  # noqa: F401

lazy_stdlib = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's zip importers are lazy"
)


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, f"NAME = {name!r}\n")


def _load(importer, fullname):
    spec = importer.find_spec(fullname)
    assert spec is not None, fullname
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@lazy_stdlib
def test_workers_run_the_engine_invalidate(spark):
    def probe(_):
        fn = zipimport.zipimporter.invalidate_caches
        yield fn.__qualname__, os.path.basename(fn.__code__.co_filename)

    got = set(spark.sparkContext.parallelize([0, 1], 2).mapPartitions(probe)
              .collect())
    assert got == {("_invalidate_if_changed", "pyworker.py")}


@lazy_stdlib
def test_every_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["pkg/__init__.py", "pkg/old.py", "top_old.py"])
    top = zipimport.zipimporter(str(archive))
    sub = zipimport.zipimporter(str(archive / "pkg"))
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )
    importers = (top, sub)
    for imp in importers:  # never read through the engine yet
        imp.invalidate_caches()
    assert len(reads) == 2
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 2, "an unchanged archive was re-read"

    _write_zip(
        archive,
        ["pkg/__init__.py", "pkg/old.py", "pkg/new.py", "top_old.py",
         "top_new.py"],
    )
    for imp in importers:
        imp.invalidate_caches()
    assert len(reads) == 4, "an importer kept a changed archive's old files"
    assert _load(top, "top_new").NAME == "top_new.py"
    assert _load(sub, "pkg.new").NAME == "pkg/new.py"


def test_a_replaced_zip_imports_its_new_module(spark, tmp_path):
    archive = str(tmp_path / "ovs_pyworker_probe.zip")
    _write_zip(archive, ["ovs_probe_m1.py"])

    def task(name):
        def run(_):
            had_zip = archive in sys.path
            if not had_zip:
                sys.path.insert(0, archive)
            yield had_zip, importlib.import_module(name).NAME

        return run

    # many partitions, so most Python workers import from the zip once
    rdd = spark.sparkContext.parallelize(range(32), 32)
    first = rdd.mapPartitions(task("ovs_probe_m1")).collect()
    assert {name for _, name in first} == {"ovs_probe_m1.py"}

    _write_zip(archive, ["ovs_probe_m1.py", "ovs_probe_m2.py"])
    second = rdd.mapPartitions(task("ovs_probe_m2")).collect()
    assert {name for _, name in second} == {"ovs_probe_m2.py"}
    # a reused worker already held an importer over the old archive
    assert any(had_zip for had_zip, _ in second)


def test_workers_that_cannot_import_the_engine_keep_the_stock_daemon(
    tmp_path, monkeypatch
):
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(site, "getsitepackages", lambda: [])
    assert not session._workers_import_engine()
    root = os.path.dirname(os.path.dirname(session.__file__))
    monkeypatch.setenv("PYTHONPATH", root)
    assert session._workers_import_engine()
