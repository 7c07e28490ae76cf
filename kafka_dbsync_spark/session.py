"""SparkSession factory tuned for the engine.

Local mode mirrors the test rig (local[32], 128 GiB); on a real cluster the
same configs apply per-executor. UTC session timezone is load-bearing: the
reference parses zone-less IIDR timestamps in a configured zone
(`TimestampConverter.java:70-112`) and we reproduce that with explicit
``convert_timezone`` calls, so the session itself must stay UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


#: where a cgroup states this process's memory limit (v2, then v1)
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _memory_bytes() -> int:
    """The memory this process may use: the host's physical memory, or its
    cgroup's limit when that is lower (a container on a shared host)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():  # v2 says "max" when there is no limit
            total = min(total, int(limit))
        break
    return total


def _default_driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else 48g capped at half the memory the
    process may use (``_memory_bytes``): a heap larger than that lets the
    JVM grow past what the machine or container has before it collects."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    return f"{min(48 * 1024, _memory_bytes() // 2**21)}m"


def get_spark(
    app_name: str = "kafka-dbsync-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes: AQE is on (runtime partition coalescing + skew-join
    splitting), shuffle partitions default to core count locally — on a
    real cluster raise to ~2-3× total cores or rely on AQE coalescing from
    a higher initial number.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp — read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Kafka allows duplicate header names; the reference keeps the last
        # value (HeaderExtractor lastWithName). map_from_entries must match
        # instead of throwing DUPLICATED_MAP_KEY.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
