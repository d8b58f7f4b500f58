from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle_vector_search_spark.session import get_spark, jvm_alive

SF_SMOKE = "/root/testdata/sf0.001"

# the session the `spark` fixture started, once it has
_SPARK = pytest.StashKey()


@pytest.fixture(scope="session")
def spark(request):
    s = get_spark("ovs-tests", cpus=8, shuffle_partitions=8)
    request.config.stash[_SPARK] = s
    yield s


def pytest_runtest_setup(item):
    """Stop the run once when the shared JVM has died, instead of
    failing every later test (and every module fixture) with
    ``ConnectionRefusedError``. Runs before any fixture of the test."""
    s = item.config.stash.get(_SPARK, None)
    if s is not None and not jvm_alive(s.sparkContext):
        proc = getattr(s.sparkContext._gateway, "proc", None)
        code = proc.poll() if proc is not None else None
        pytest.exit(
            f"the Spark driver JVM died before {item.nodeid} "
            f"(exit status {code}; -9 is SIGKILL, e.g. the kernel OOM "
            "killer). Later tests cannot reach it; rerun with a smaller "
            "SPARK_GRAFT_DRIVER_MEM or on a host with more free memory.",
            returncode=3,
        )


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
