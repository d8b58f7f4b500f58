"""Benchmark entry point.

    python3 perfbench/run.py --workload search_online --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Sets up the workload from the seed,
runs its operations in a closed loop for ``--seconds``, checks every
answer, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones, and the spans are written to
``.perfbench/traces/<workload>-seed<seed>.jsonl``.

Everything the run writes lives under ``.perfbench/`` in the checkout;
its scratch directory is removed at exit. See perfbench/README.md for
the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
# JVM heap: the engine's 48g default does not fit small hosts
HEAP_MB_MAX = 2048
# metric-name suffix -> unit, first match wins; other metrics are counts
UNITS = (
    ("_ms_per_image", "ms"), ("_ms_per_crop", "ms"), ("_per_s", "1/s"),
    ("_s", "s"), (".s", "s"), ("_mb", "MB"), ("bytes_total", "bytes"),
    ("bytes_written", "bytes"), ("bytes_per_row", "bytes"),
    ("share", "ratio"),
)


def host_env(work: str) -> None:
    """Launch settings made here, not in engine code: Python workers can
    import the engine, the JVM heap fits the host, one executor
    thread per core, private scratch directories, no progress bars."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(HEAP_MB_MAX, total_mb // 4)}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER_SET", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def closed_loop(run, wl, seconds: float):
    """One client: issue the next operation when the previous returned,
    until ``seconds`` have passed (at least one operation)."""
    from perfbench.workloads import warn

    lat, items, failed, i = [], 0, 0, 0
    start = time.perf_counter()
    while i == 0 or time.perf_counter() - start < seconds:
        t = time.perf_counter()
        try:
            items += wl.op(run, i)
        except Exception:
            failed += 1
            warn(f"{wl.name} op {i} failed:\n{traceback.format_exc()}")
        lat.append(time.perf_counter() - t)
        i += 1
    wall = time.perf_counter() - start
    return {"lat": lat, "items": items, "failed": failed, "wall": wall}


def loop_metrics(res) -> dict:
    lat = res["lat"]
    return {
        "op_p50_s": statistics.median(lat),
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1]
        if len(lat) > 1 else lat[0],
        "items_per_s": res["items"] / res["wall"],
    }


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS if name.endswith(suffix)), "count")


def traced(run, wl, seconds: float, session_s: float):
    """Per-layer metrics: the workload's loop with every operation
    traced, its own layer breakdown, and a small pass over the sections
    it bypasses, so every traced run reports every layer. Returns the
    metrics, the loop's results and the tracers holding the spans."""
    from perfbench import trace as tr
    from perfbench import workloads as wls

    own = run.tracer = tr.Tracer(run.spark, True, wl.name)
    res = closed_loop(run, wl, seconds)
    out = wl.layers(run)
    tracers = [own]
    for cls in wls.LAYER_SOURCES:
        if cls.name == wl.name:
            continue
        probe = cls()
        run.tracer = tr.Tracer(run.spark, True, f"probe-{cls.name}")
        tracers.append(run.tracer)
        probe.make_inputs(run, f"probe-{cls.name}")
        probe.warm_up(run)
        for i in range(probe.probe_ops):
            probe.op(run, i)
        out = {**probe.layers(run), **out}
        probe.check(run, probe.probe_ops)
    run.tracer = own
    out.update(wls.kernel_layers(run))
    out["session.start_s"] = session_s
    # what tracing adds to each timed operation, measured directly
    ops = [s for s in own.spans if s["parent"] is None][:len(res["lat"])]
    out["trace_overhead.op_s"] = statistics.median(s["overhead_s"] for s in ops)
    out["trace_overhead.share"] = sum(s["overhead_s"] for s in ops) / res["wall"]
    return out, res, tracers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "oracle_vector_search_spark",
                                       "api.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace as tr
    from perfbench import workloads as wls

    if args.workload not in wls.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(wls.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    host_env(work)
    spark = None
    try:
        with tr.RssSampler() as rss:
            from oracle_vector_search_spark.session import get_spark

            t = time.perf_counter()
            spark = get_spark("perfbench")
            spark.range(1).collect()
            session_s = time.perf_counter() - t
            run = wls.Run(spark, tr.Tracer(spark, False), args.seed, ROOT,
                          work)
            wl = wls.WORKLOADS[args.workload]()

            repeats = []
            for r in range(1 if args.trace else SETUP_REPEATS):
                t = time.perf_counter()
                wl.make_inputs(run, f"inputs{r}")
                repeats.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.warm_up(run)
            warm_s = time.perf_counter() - t
            # the repeated set-up counts once, at its median
            setup_s = (time.perf_counter() - T0 - sum(repeats)
                       + statistics.median(repeats))

            if args.trace:
                metrics, res, tracers = traced(run, wl, args.seconds, session_s)
            else:
                res = closed_loop(run, wl, args.seconds)
                metrics = {"setup_s": setup_s, **loop_metrics(res)}
            t = time.perf_counter()
            wrong = wl.check(run, len(res["lat"]))
            wls.warn(
                f"session {session_s:.1f}s, set-up "
                f"{', '.join(f'{x:.1f}' for x in repeats)}s, warm-up "
                f"{warm_s:.1f}s, loop {res['wall']:.1f}s: "
                f"{' '.join(f'{x:.2f}' for x in res['lat'])}, "
                f"check {time.perf_counter() - t:.1f}s"
            )
            rss.sample()
        if args.trace:
            tr.write_spans(tracers, os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res["lat"])
    failed = min(attempted, res["failed"] + wrong)
    print(json.dumps({
        "correct": failed == 0 and not run.wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": unit_of(k)}
            for k, v in metrics.items()
        },
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
