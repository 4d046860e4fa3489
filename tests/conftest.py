from __future__ import annotations

import os
from pathlib import Path

import duckdb
import pytest

from introduction_in_big_data_spark.session import get_spark
from introduction_in_big_data_spark.sources.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_collection_modifyitems(config, items):
    """Apply the 'slow' marker from tests/slow_tests.txt (VERDICT r12
    item 3): the full suite takes ~29 min, past the external driver's
    verify window, so the measured slowest tests (>= 3.5s each) form a
    marked tier excluded by the default addopts. Run everything with
    -m "slow or not slow".

    An entry that names a test no longer collected (renamed or
    deleted) fails the session instead of silently dropping out of the
    tier: it is checked whenever its file was collected in full."""
    slow_file = Path(__file__).parent / "slow_tests.txt"
    if not slow_file.exists():
        raise pytest.UsageError(f"missing slow-tier list {slow_file}")
    slow_ids = {
        line.strip()
        for line in slow_file.read_text().splitlines()
        if line.strip() and not line.startswith("#")
    }
    nodeids = {item.nodeid for item in items}
    for item in items:
        if item.nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)
    stale = stale_slow_ids(slow_ids, nodeids, config.args)
    if stale:
        raise pytest.UsageError(
            f"{slow_file.name} names tests that were not collected "
            f"(renamed or deleted?): {sorted(stale)}"
        )


def stale_slow_ids(slow_ids, nodeids, args) -> set[str]:
    """Entries of the slow list whose test file was collected but that
    match no collected test. A run that selects tests by node id
    (`file::test`) collects files only in part, so it checks none."""
    if any("::" in a for a in args):
        return set()
    collected_files = {n.split("::", 1)[0] for n in nodeids}
    return {
        s
        for s in slow_ids
        if s not in nodeids and s.split("::", 1)[0] in collected_files
    }


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ibd-spark-tests", cpus=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()
