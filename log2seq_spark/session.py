"""SparkSession helper with the engine's tuned defaults."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


_DRIVER_MEM_CAP = 40 << 30


def driver_memory() -> str:
    """``spark.driver.memory`` for a local-mode session: the
    ``SPARK_GRAFT_DRIVER_MEM`` environment variable when set, else half
    the host's physical memory capped at 40g. A fixed 40g heap on a
    smaller host lets one large job grow the JVM until the kernel kills
    it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    except (ValueError, OSError):
        half = _DRIVER_MEM_CAP
    return f"{min(half, _DRIVER_MEM_CAP) >> 20}m"


def get_spark(app_name: str = "log2seq-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Local-mode session sized to the host; on a real cluster the same
    conf keys are supplied via spark-submit instead.

    Spark's cache of compiled generated classes
    (``spark.sql.codegen.cache.maxEntries``) holds 4096 entries instead
    of Spark's 100, so a plan that runs again in the session reuses its
    compiled classes. It is a static conf: it applies only in the call
    that starts the session."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # under spark-submit (PythonRunner exports the gateway port) the
    # master/deploy conf comes from the submit command line; setting
    # .master() here would silently override --master, so don't
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and under_submit:
        b = SparkSession.builder.appName(app_name)
    else:
        b = SparkSession.builder.appName(app_name).master(
            master or f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus
    b = (b
         # scale shuffle width with cores; AQE coalesces the tail
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # Arrow everywhere; batch size pinned so N- and 4N-core runs do
         # identical per-batch work (BASELINE.md protocol)
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.sql.session.timeZone", "UTC")
         # local-mode driver IS the executor: an 8g default heap GC-thrashes
         # at ≥16 busy threads (measured 1.5× wall); size for the box
         .config("spark.driver.memory", driver_memory())
         # a pass over the 47 runnable driver queries compiles
         # 1,461-1,476 distinct classes; at Spark's 100 entries every
         # later pass recompiled them all (1,759-1,855 compiles a pass),
         # and C2 compiled each new class again
         .config("spark.sql.codegen.cache.maxEntries", "4096"))
    # shuffle/spill dirs on tmpfs when available: models per-node NVMe
    # scratch (the sandbox's virtual disk serializes shuffle I/O)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``ddl`` column order) as a
    DataFrame. Going through pandas lets the session's Arrow path ship
    them as a ``LocalTableScan``; a plain list plans as ``Scan
    ExistingRDD``, whose job starts Python workers to unpickle the
    rows."""
    names = StructType.fromDDL(ddl).names
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), ddl)
