"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the driver environment (local[32], single JVM)
but every knob is chosen so the same code runs unchanged on a multi-node
cluster: AQE on (runtime re-plan + skew-join handling), Arrow on (pandas
UDF fast path), UTC session timezone (oracle comparability), shuffle
partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 48g: large hosts keep the 48g
    heap, small ones leave room for the OS and the Python workers."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{min(phys // 2, 48 << 30) >> 20}m"


def get_spark(
    app_name: str = "oracle_vector_search_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-safe.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER_SET"):
        # Only force local master when not running under a cluster manager.
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
        builder = builder.master(master)
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )

    spark = builder.getOrCreate()
    if extra_conf:
        for k, v in extra_conf.items():
            spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_alive(sc: SparkContext) -> bool:
    """Whether the driver JVM behind ``sc`` still answers. A JVM killed
    from outside (e.g. by the kernel OOM killer) leaves the Python side
    holding a gateway whose every call fails with
    ``ConnectionRefusedError``."""
    proc = getattr(sc._gateway, "proc", None)
    if proc is not None and proc.poll() is not None:
        return False
    try:
        sc._jvm.java.lang.System.nanoTime()
    except (Py4JError, OSError):
        return False
    return True
