"""SparkSession factory with the engine's scale-tuned defaults.

Local mode is the sandbox proxy for a multi-executor cluster; the same
configs apply on a real cluster via ``spark-submit --py-files`` (see
``plans/submit.py``).  AQE + skew-join handling are on by default per
the north rule (skewed dense tiles), Arrow is on because every
Python-side operator is pandas-UDF-vectorized.

PySpark's DataFrame call-site capture is off: with it on, every Column
function call pays extra driver↔JVM round trips (active-session lookup,
a conf read, an origin set/clear), which more than doubled the planning
round trips of a single request.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """A quarter of physical RAM (the JVM's own max-heap ergonomics),
    between 1 and 24 GiB; ``OES_DRIVER_MEM`` overrides it."""
    env = os.environ.get("OES_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(phys // 4 // 2**20, 1024), 24 * 1024)}m"


def build_session(app: str = "oes-spark", cpus: int | None = None,
                  shuffle_partitions: int | None = None,
                  extra: dict[str, str] | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # partitions proportional to cores: right-sized shuffles at both
        # local[8] and local[32] (scaling-efficiency protocol).
        shuffle_partitions = max(2 * cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        # size the WHOLE JVM to the requested core count: local[N] caps
        # task slots only — GC, JIT and Netty pools otherwise size to the
        # physical machine, which silently gives a local[2] "cluster"
        # 32-core garbage collection (distorts N-vs-4N scaling evidence)
        .config("spark.driver.extraJavaOptions",
                f"-XX:ActiveProcessorCount={cpus}")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
