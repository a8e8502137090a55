import os
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from parallel_dataflow_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def canon(df):
    """A frame's rows as a sorted list of tuples: order-free equality."""
    return sorted(tuple(r) for r in df.collect())


def stop_after_batch(q, n, timeout=120):
    """Kill ``q`` mid-stream: stop it once it reports micro-batch ``n``,
    or after ``timeout`` seconds."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        lp = q.lastProgress
        if lp is not None and lp["batchId"] >= n:
            break
        time.sleep(0.2)
    q.stop()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from parallel_dataflow_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    return con
