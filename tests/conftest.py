from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from at_data_pipelines_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def zone_stats(lake, name: str) -> dict:
    """The table's recorded zone maps (leaf or file key -> {column: [min,
    max]}), without the stat-less inventory and generation-marker keys."""
    return {k: v for k, v in lake._load_meta(name).zone_maps.items() if v}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
