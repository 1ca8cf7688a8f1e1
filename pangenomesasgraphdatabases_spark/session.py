"""The package's one SparkSession factory, sized to the host it runs on.

At cluster scale the same code runs unchanged; only master/memory conf
differ.  AQE is on so skewed shuffles re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of physical memory given to the local[N] JVM heap.  local[N]
# puts the driver and every executor thread in ONE JVM, whose RSS runs
# well past -Xmx (metaspace, codegen, netty/Arrow buffers) and sits
# beside the Python workers.  Half of MemTotal keeps the whole process
# tree inside RAM: a heap larger than RAM never comes under GC pressure
# and the JVM gets OOM-killed instead (a 48 GiB heap died at ~14.5 GB RSS
# on a 15.7 GB host); 8g was the measured passing point there, and
# half rounds to 7g.
HEAP_SHARE = 0.5

# The directory holding the package: Python workers need it on their
# path to unpickle pandas_udf closures, whatever the caller's cwd.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _heap() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else HEAP_SHARE of physical
    memory in whole GiB (at least 1g)."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(total * HEAP_SHARE) // 2**30)}g"


def get_spark(
    app_name: str = "pangenome-spark",
    shuffle_partitions: int | None = None,
    initial_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    initial = initial_partitions or shuffle_partitions or 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can COALESCE small shuffle partitions but never splits
        # oversized ones (absent join skew), so the INITIAL partition
        # count is the scale ceiling: at 30x graph scale (138M
        # features) 32 initial partitions left ~4M rows/partition and
        # the graph-build slope went superlinear (346.7s; 181.6s at
        # 256 — SCALE.md r8).  But wider initial shuffles are NOT a
        # free default: iterative plans that localCheckpoint between
        # rounds pin the inflated partition count across every
        # iteration (doc_ngram_jaccard_dedup measured 3x slower at
        # sf0.1 with 128 vs 32 — the measured sweep is in SCALE.md).
        # So the knob is sized per input scale by the caller (the
        # scale harness sets 256 for the 30x graph runs), exactly as
        # a 100 TB deployment sizes spark.sql.shuffle.partitions to
        # its data, and the session default stays small-scale-tuned.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _heap())
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
