"""SparkSession factory tuned for iterative graph workloads.

Scale rationale (100 TB / 1000-executor target, tested on local[N]):
- AQE on: runtime coalescing of the per-superstep shuffles and skew-join
  splitting for hub vertices (the reference's "superedge cache" analogue,
  cf. /root/reference/.../trianglecount/TriangleCount.java:87-115).
- shuffle partitions sized to parallelism here; on a real cluster set
  ~2-3x total cores and let AQE coalesce.
- Arrow enabled for the few pandas-UDF paths (no per-row Python anywhere).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# share of the host's memory the driver heap takes when
# SPARK_DRIVER_MEMORY is unset (local mode: the driver JVM IS the
# executor, and Python workers plus page cache need the rest)
HEAP_SHARE = 0.4


def default_cpus() -> int:
    """SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str | None:
    """SPARK_DRIVER_MEMORY, else HEAP_SHARE of MemTotal as "<n>m"; None
    (Spark's own default) when meminfo cannot be read."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        with open(meminfo) as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return None
    return f"{int(total_kb * HEAP_SHARE) // 1024}m"


def get_spark(
    app_name: str = "hugegraph-computer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] -> N; local[*] / cluster -> default 32
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # prefer the advisory partition size over raw parallelism when
        # coalescing: iterative jobs issue many small shuffles whose task-
        # scheduling overhead otherwise dominates; at 100 TB the advisory
        # size (64 MB) yields full parallelism anyway
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # iterative gather/scatter joins: shuffled-hash beats sort-merge
        # (no per-superstep O(E log E) sorts; build sides are bounded by
        # hash partitioning, and AQE still splits skewed partitions)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # local mode: the driver JVM IS the executor, so its heap is sized
    # to the host (a fixed 48g got the JVM OOM-killed on a 15 GiB host).
    # On a real cluster executor memory is the operative knob instead.
    heap = default_driver_memory()
    if heap:
        builder = builder.config("spark.driver.memory", heap)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
