"""A dead driver JVM stops the test run once with a clear message
(tests/conftest.py) instead of failing every later test with
``ConnectionRefusedError``."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import types

from py4j.protocol import Py4JNetworkError

from oracle_vector_search_spark.session import jvm_alive

_TESTS = os.path.dirname(os.path.abspath(__file__))


class _Proc:
    def __init__(self, code):
        self.code = code

    def poll(self):
        return self.code


def _context(code, jvm_call):
    jvm = types.SimpleNamespace(
        java=types.SimpleNamespace(
            lang=types.SimpleNamespace(
                System=types.SimpleNamespace(nanoTime=jvm_call)
            )
        )
    )
    return types.SimpleNamespace(
        _gateway=types.SimpleNamespace(proc=_Proc(code)), _jvm=jvm
    )


def _refused():
    raise Py4JNetworkError("connection refused")


def test_jvm_alive(spark):
    assert jvm_alive(spark.sparkContext)
    assert jvm_alive(_context(None, lambda: 1))
    assert not jvm_alive(_context(-9, lambda: 1))
    assert not jvm_alive(_context(None, _refused))


def test_dead_jvm_stops_the_run_once(tmp_path):
    shutil.copy(os.path.join(_TESTS, "conftest.py"), tmp_path)
    (tmp_path / "test_dies.py").write_text(textwrap.dedent("""
        import os
        import signal


        def test_kill_jvm(spark):
            proc = spark.sparkContext._gateway.proc
            os.kill(proc.pid, signal.SIGKILL)
            proc.wait()


        def test_after_1(spark):
            spark.range(1).collect()


        def test_after_2(spark):
            spark.range(1).collect()
    """))
    root = os.path.dirname(_TESTS)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_DRIVER_MEM="512m",
    )
    run = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    out = run.stdout + run.stderr
    assert run.returncode == 3, out
    assert out.count("the Spark driver JVM died before") == 1, out
    assert "test_dies.py::test_after_1" in out, out
    assert "ConnectionRefused" not in out, out
    assert "1 passed" in out, out
