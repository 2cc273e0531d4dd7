"""The session's driver heap default follows the host's memory."""

from __future__ import annotations

import os

from at_data_pipelines_spark.session import (
    _DRIVER_MEMORY_CAP_MB,
    _driver_memory,
    _host_meminfo,
)

MEMINFO_16G = """MemTotal:       16456384 kB
MemFree:        11815920 kB
MemAvailable:   13186736 kB
"""


def test_driver_memory_is_half_of_memtotal_capped():
    assert _driver_memory(MEMINFO_16G) == "8035m"
    assert _driver_memory("MemTotal: 268435456 kB\n") == f"{_DRIVER_MEMORY_CAP_MB}m"
    assert _driver_memory("MemFree: 1024 kB\n") == f"{_DRIVER_MEMORY_CAP_MB}m"


def test_session_driver_heap_follows_the_host(spark):
    want = os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory(_host_meminfo())
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
