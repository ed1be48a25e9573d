from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from reduction_dask_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from reduction_dask_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con
