"""SparkSession factory with engine defaults.

Tuned for correctness at small scale and sane behavior at cluster scale:
AQE on (runtime re-plan + skew-join splitting), Arrow on (all our kernels
are pandas/Arrow vectorized), shuffle partitions sized to the parallelism.
On a real cluster these come from spark-submit conf; the factory only fills
gaps so the same code runs under ``local[N]`` tests and ``spark-submit``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime coalescing, skew-join splitting, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # All engine kernels are Arrow-vectorized pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Iterative jobs re-reference small state tables; keep broadcasts roomy.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamp behavior for oracle comparisons.
    "spark.sql.session.timeZone": "UTC",
}

# cgroup v2, then v1: the container's memory limit, when it has one
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def host_memory_bytes() -> int:
    """``MemTotal``, or the cgroup memory limit if that is lower."""
    with open("/proc/meminfo") as f:
        total = next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("MemTotal:"))
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def driver_memory(mem_bytes: int) -> str:
    """``spark.driver.memory`` for a host with ``mem_bytes`` of memory.

    In local mode the driver JVM is the executor: it gets half the memory,
    the rest is left to the Python workers, their Arrow batches and the page
    cache. Never below Spark's own 1g default.
    """
    return f"{max(1024, mem_bytes // 2 // 2**20)}m"


def local_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "webgraph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` outside a cluster, or
    to the cores this process may run on. ``shuffle_partitions`` defaults to
    the same core count so one wave of reduce tasks covers the machine (on a
    cluster: set via spark-submit). ``spark.driver.memory`` defaults to
    :func:`driver_memory` of :func:`host_memory_bytes`.
    """
    builder = SparkSession.builder.appName(app_name)
    cpus = local_cpus()
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.driver.memory"] = driver_memory(host_memory_bytes())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
