from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]
# Python workers import the package too (the KV sink's client factory)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
os.environ.setdefault("SPARK_DRIVER_MEM", "1g")


@pytest.fixture(scope="session")
def spark():
    from movie_data_transformer_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()
