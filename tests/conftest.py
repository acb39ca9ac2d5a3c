from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a copy's suite tests that copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from debezium_server_bigquery_spark import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
