from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Correctness-gate scale factor (the driver uses sf0.01 for t2).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def pytest_configure(config):
    # Per-test duration log (--durations=30 --durations-min=5) unless
    # the command line asks for its own: the slowest tests show in the
    # run's tail, so a long suite reports where its time went.
    if config.option.durations is None:
        config.option.durations = 30
        config.option.durations_min = 5.0


@pytest.fixture(scope="session")
def spark():
    from optimus_any2any_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
