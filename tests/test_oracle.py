"""Every registered oracle-checked query must match DuckDB at sf0.001.

This mirrors the driver's t2 gate (it runs sf0.01; sf0.001 keeps the
suite fast — tools/compare.py covers sf0.01 pre-commit).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from reduction_dask_spark.caching import release_pinned
from tools.compare import compare, rows_digest

import __spark_entry__ as entrymod

from .conftest import REPO, SF_SMALL

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
# {name: {sf: md5 of the canonical rows}} of the pinned rows-only queries
ROWS_DIGEST = json.loads((REPO / "ROWS_DIGEST.json").read_text())


@pytest.fixture
def released(spark):
    """Free the pins and barrier blocks a query leaves behind once its
    result is collected (compare.py does the same between queries); the
    contract's clearCache alone drops neither registry. Teardown runs
    whether the test passed or failed."""
    yield
    release_pinned()
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, duck, released):
    sdf = QUERIES[name](spark, SF_SMALL).toPandas()
    ddf = duck.execute(ORACLES[name]).fetchdf()
    errs = compare(name, sdf, ddf)
    assert not errs, f"{name}: {errs}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert rows[0]["spearman_era_corr"] is not None


def test_all_queries_run(spark):
    """Rows-only queries (no oracle) must at least execute, and those
    pinned in ROWS_DIGEST.json must return the pinned rows."""
    sf = Path(SF_SMALL).name
    moved = {}
    for name, fn in QUERIES.items():
        if name in ORACLES:
            continue
        try:
            df = fn(spark, SF_SMALL)
            if name in ROWS_DIGEST:
                got = rows_digest(df.toPandas())
                if got != ROWS_DIGEST[name][sf]:
                    moved[name] = got
            else:
                assert df.count() >= 0, name
        finally:
            release_pinned()
            spark.catalog.clearCache()
    assert moved == {}
