from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Default to the small SF for fast tests; override with TEST_SF_DIR.
SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from reddit_can_bigdata_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf001_dir() -> str:
    """The sf0.01 tables, located as a sibling of SF_DIR so the suite
    works wherever the fixture root lives. A few tests need this scale
    regardless of the session SF (sf0.001 is too small for them)."""
    path = Path(SF_DIR).parent / "sf0.01"
    if not path.is_dir():
        pytest.skip("sf0.01 fixture dir not available next to TEST_SF_DIR")
    return str(path)


@pytest.fixture(scope="session")
def duck():
    from tools.oracle_check import duck_views

    con = duck_views(SF_DIR)
    yield con
    con.close()
