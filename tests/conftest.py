from __future__ import annotations

import os
import sys

import pytest

# the checkout these tests belong to, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movie_data_transformer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
