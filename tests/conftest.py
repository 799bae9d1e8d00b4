from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from cdc_dedupe_spark.session import get_spark  # noqa: E402
from cdc_dedupe_spark.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Two-tier suite: tests marked `slow` are skipped by default so the
# suite fits its time budget. Only one test carries the marker today:
# the sf0.01 near-vs-exact MinHash recall check (test_minhash_recall.py).
# Set SPARK_GRAFT_SLOW_TESTS=1 to run everything.
RUN_SLOW = os.environ.get("SPARK_GRAFT_SLOW_TESTS", "0") == "1"


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow tier (set SPARK_GRAFT_SLOW_TESTS=1 to run)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("cdc-dedupe-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the driver's pre-registered table views."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
