from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eye_of_sauron_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # cap the test JVM's heap at half the host's memory: get_spark's
    # 48g default lets the heap outgrow a small host until the kernel
    # kills the JVM mid-suite. An explicit setting wins.
    phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, int(phys_gib // 2))}g")
    spark = get_spark("eye_of_sauron_spark_tests", extra_conf={
        # keep local test runs snappy
        "spark.sql.shuffle.partitions": "8",
    })
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
