"""SparkSession factory with the engine's tuned defaults.

Tuning rationale (100 TB design intent, exercised locally):
 * Arrow enabled + bounded batch size — all custom logic is Arrow-batched pandas UDFs
   (the Arrow batch is the analog of the reference's CorpusBatch,
   Corpus/CorpusBatch.cs:12-79); maxRecordsPerBatch bounds tagger memory like the
   reference's batch-size option (Options.cs:57).
 * AQE on (coalesce + skew join) — runtime re-planning replaces the reference's
   OOM-adaptive batch splitting (BaseSeq2SeqFramework.cs:283-390).
 * shuffle.partitions sized to cores locally; on a real cluster this scales with
   executor count (set via spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the box's physical memory, at most 48g. The driver JVM grows its
    heap toward the maximum before it collects, so a maximum above the box's
    memory lets a long session's garbage get it killed by the OS."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, total // 2 >> 20)}m"


def get_spark(app_name: str = "lingvo-spark-kg", cpus: int | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None,
              arrow_batch_rows: int = 2048) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # floor on file-scan splits: stage tables between pipeline stages are a few
        # GB locally, and 128 MB bin-packing would hand a 32-core box only ~8-24
        # read tasks — a single straggler then stalls the Python (mapInArrow)
        # stages that dominate the DNN regimen. minPartitionNum is a HINT scaled to
        # cores (on a cluster: executor cores via spark-submit conf), so huge scans
        # still honor maxPartitionBytes and never explode into micro-tasks.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # off: every pyspark.sql.functions / Column call would otherwise walk
        # the Python stack and make extra Py4J calls (session, conf, origin
        # set and clear) to attach its call site to the plan, about half the
        # driver's round trips when a lookup is planned. Analysis errors then carry no Python call site; pass
        # this key as "true" in extra_conf (a static conf: before the session
        # starts) to get it back.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
