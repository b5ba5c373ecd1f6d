from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/ (the fbench package)
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # repo root (fluss_spark)


@pytest.fixture(scope="session")
def spark():
    from fluss_spark.session import get_spark

    s = get_spark("perfbench_selftest", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
