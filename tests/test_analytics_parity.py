"""Mirror of the driver's correctness gate (SURVEY.md §5.1), in-repo.

Every ``queries()`` entry with an ``oracle_sql()`` twin is executed on
Spark and DuckDB over the same sf0.001 parquet and compared on row count,
sorted column names, and the order-insensitive value multiset under
tools/check_parity.py's ``normalize`` (a float never equals an int) —
exactly what CORRECTNESS_r{N}.json records at sf0.01.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as se
from analytics.common import TABLES
from tests.conftest import SF_TEST
from tools.check_parity import normalize

_QUERIES = se.queries()
_ORACLES = se.oracle_sql()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_TEST}/{t}.parquet')"
        )
    yield con
    con.close()


def test_all_queries_have_unique_names():
    assert len(_QUERIES) >= 55
    assert set(_ORACLES) <= set(_QUERIES)


def test_entry_returns_rows(spark):
    df = se.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(spark, ddb, name):
    df = _QUERIES[name](spark, SF_TEST)
    sdata = [tuple(r) for r in df.collect()]
    cur = ddb.execute(_ORACLES[name])
    dcols = [d[0] for d in cur.description]
    ddata = cur.fetchall()
    assert sorted(df.columns) == sorted(dcols), f"{name}: column names differ"
    assert len(sdata) == len(ddata), f"{name}: row count differs"
    assert normalize(sdata, df.columns) == normalize(ddata, dcols), (
        f"{name}: value multiset differs"
    )


@pytest.mark.parametrize(
    "name",
    sorted(set(_QUERIES) - set(_ORACLES)),
)
def test_rows_only_queries_run(spark, name):
    df = _QUERIES[name](spark, SF_TEST)
    assert df.count() >= 0
