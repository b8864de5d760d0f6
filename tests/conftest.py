from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pdf_extract_spark.session import get_spark

    # The suite's JVM fits in 4 GB; the library's 16 GB default heap lets
    # it grow past half of a small host's memory.
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    s = get_spark(master="local[8]", app_name="pdf-extract-tests")
    yield s
    s.stop()
