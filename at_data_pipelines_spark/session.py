"""SparkSession factory.

Local-mode defaults tuned for the test harness (local[$SPARK_GRAFT_CPUS],
shuffle partitions ~ cores); on a real cluster the same builder works with
``master`` overridden and shuffle partitions sized to the data (AQE coalesces
them at runtime anyway).

The generated-code cache holds ``_CODEGEN_CACHE_ENTRIES`` classes instead
of Spark's default 100: one daily DAG run compiles about 190 classes, so
at 100 entries a same-day rerun (or the next query pass in the same JVM)
evicts and recompiles them all. The cache is per JVM, so this only helps
a process that re-runs plans; a single run in a fresh JVM compiles the
same number of classes at either size.

The driver heap defaults to half the host's ``MemTotal``, capped at
``_DRIVER_MEMORY_CAP_MB`` (48 GB); ``SPARK_DRIVER_MEMORY`` overrides it.
A heap larger than the host lets the JVM put off garbage collection until
the kernel kills it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CODEGEN_CACHE_ENTRIES = 2000
_DRIVER_MEMORY_CAP_MB = 48 * 1024


def _driver_memory(meminfo: str) -> str:
    """Half of ``MemTotal`` in a ``/proc/meminfo`` text, capped at
    ``_DRIVER_MEMORY_CAP_MB``; the cap when the text has no ``MemTotal``."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            half_mb = int(line.split()[1]) // 2048  # kB -> MB, halved
            return f"{min(half_mb, _DRIVER_MEMORY_CAP_MB)}m"
    return f"{_DRIVER_MEMORY_CAP_MB}m"


def _host_meminfo() -> str:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return ""


def get_spark(
    app_name: str = "at-data-pipelines-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "32")
    shuffle_partitions = str(shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS") or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory(_host_meminfo()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # the driver testdata's events table uses TIMESTAMP(NANOS) parquet,
        # which Spark only reads via this legacy conf (as raw nanos longs)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
