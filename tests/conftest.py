from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from parseable_spark.session import get_spark

    # get_spark's default master: local[SPARK_GRAFT_CPUS], else every core
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


# Slow-tier marking: tests/slow_tests.txt lists the node IDs measured >= 10 s
# (full-suite --durations=0 run, r12). They get @pytest.mark.slow at collection
# time; pytest.ini's `-m "not slow"` addopts keeps them out of the default tier
# so the whole-suite gate finishes inside its window. Run them with `-m slow`.
# Entries that no longer collect are ignored (no failure on rename/removal).
_SLOW_MANIFEST = Path(__file__).resolve().parent / "slow_tests.txt"


def pytest_collection_modifyitems(config, items):
    try:
        slow_ids = {
            ln.strip()
            for ln in _SLOW_MANIFEST.read_text().splitlines()
            if ln.strip() and not ln.startswith("#")
        }
    except OSError:
        return
    for item in items:
        nodeid = item.nodeid.replace("\\", "/")
        if nodeid in slow_ids or f"tests/{nodeid}" in slow_ids:
            item.add_marker(pytest.mark.slow)
