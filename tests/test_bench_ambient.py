"""bench.py must carry its own contention evidence (VERDICT r12 #1).

The driver's BENCH_r12 capture read 90 s against a committed same-HEAD
idle capture of 30.5 s, and nothing in the artifact could say which to
believe — adjudication required re-running queries by hand. These
tests pin the fix: a fixed-work CPU probe (constant 1024² GEMM) plus
/proc/loadavg taken before and after the suite, a derived
``contended`` verdict, and all of it present in BOTH the committed
BENCH_LOCAL.json detail and the compact driver-recorded stdout line.
"""

from __future__ import annotations

import json
import os

import bench

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ambient_probe_shape():
    p = bench.ambient_probe()
    g = p["gemm_1024_median_sec"]
    assert 0.0005 < g < 30.0, g  # constant work: sane on any host
    m = p["membw_1g_median_sec"]
    assert 0.005 < m < 30.0, m  # 1 GiB stream: sane on any host
    assert p["loadavg"] is None or (
        len(p["loadavg"]) == 3
        and all(isinstance(x, float) and x >= 0.0 for x in p["loadavg"])
    )


def test_probe_is_fixed_work():
    """The probe is constant work, so on a QUIET host repeated probes
    must agree — otherwise it can't adjudicate anything. On a host
    that is itself under shifting external load the premise doesn't
    hold (that's the condition the probe exists to DETECT), so the
    test skips rather than flake: adjudicating the adjudicator needs
    a quiet bench, same as any other timing assertion."""
    import time

    import pytest

    # The 1-minute load average still carries the Spark work of the
    # tests that ran just before this one in the same session (seen:
    # load1 4.8-6.7 right after the api tests, on a parent checkout
    # too). That is our own past load, not external load now, and with
    # the session idle it decays on its 60 s time constant; wait for
    # it, bounded, before judging whether the host is quiet.
    deadline = time.time() + 60.0
    while time.time() < deadline:
        load = bench.read_loadavg()
        if load is None or load[0] <= 4.0:
            break
        time.sleep(1.0)

    probes = [bench.ambient_probe() for _ in range(4)]
    load1 = max(
        (p["loadavg"] or [0.0])[0] for p in probes
    )
    times = sorted(p["gemm_1024_median_sec"] for p in probes)
    if load1 > 4.0 or times[-1] / times[0] > 3.0:
        pytest.skip(
            f"host under external load (load1={load1}, probe spread "
            f"{times[0]:.4f}..{times[-1]:.4f}) — cannot adjudicate "
            "probe stability here"
        )
    # quiet host: the two fastest probes agree within 2x
    assert times[1] / times[0] < 2.0, times


def test_bench_local_carries_ambient_fields():
    """The committed BENCH_LOCAL.json (regenerated by every bench run,
    committed by the verify battery) must carry the ambient evidence."""
    with open(os.path.join(HERE, "BENCH_LOCAL.json")) as fh:
        d = json.load(fh)
    for field in ("ambient_start", "ambient_end", "cpu_probe_drift",
                  "membw_probe_drift", "contended"):
        assert field in d, f"BENCH_LOCAL.json missing {field}"
    for amb in (d["ambient_start"], d["ambient_end"]):
        assert "gemm_1024_median_sec" in amb
        assert "membw_1g_median_sec" in amb
        assert "loadavg" in amb
    assert isinstance(d["contended"], bool)
