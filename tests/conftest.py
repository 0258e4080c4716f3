from __future__ import annotations

import sys
from pathlib import Path

import pytest

#: the checkout these tests live in: its package is imported, never
#: another copy that happens to be installed or on the path
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from cassandra_extractor_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    sp = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield sp


@pytest.fixture(scope="session")
def repo_root() -> Path:
    return ROOT


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
