"""Mirror of the driver's correctness gate (SURVEY.md §5.1), in-repo.

Every ``queries()`` entry with an ``oracle_sql()`` twin is executed on
Spark and DuckDB over the same sf0.001 parquet and compared on row count,
sorted column names, and the order-insensitive value multiset under
tools/check_parity.py's ``normalize`` (a float never equals an int) —
exactly what CORRECTNESS_r{N}.json records at sf0.01.

Every query, oracle-backed or rows-only, must also leave Spark's
CacheManager empty once its result is collected: a cached plan outlives
the call and is matched by plan, so a later call over a table rewritten
at the same path would be served the old rows.
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


def _collect_leaving_no_cache(spark, name):
    """Run query ``name`` over SF_TEST and collect it; fail if that left a
    CacheManager entry.  The cache is cleared afterwards either way, so one
    leaking query does not fail the queries after it."""
    try:
        df = _QUERIES[name](spark, SF_TEST)
        rows = [tuple(r) for r in df.collect()]
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
            f"{name}: left a cached plan in the session"
        )
    finally:
        spark.catalog.clearCache()
    return df, rows


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(spark, ddb, name):
    df, sdata = _collect_leaving_no_cache(spark, name)
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
    _collect_leaving_no_cache(spark, name)


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_prefix_jaccard", "dedup_simhash"],
)
def test_rewritten_input_is_read_again(spark, tmp_path, name):
    """A query over a documents table rewritten at the same path answers
    for the new rows, exactly as over a copy at a new path: nothing the
    first call built is served to the second."""
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{SF_TEST}/documents.parquet")
    same, fresh = tmp_path / "same", tmp_path / "fresh"
    same.mkdir()
    fresh.mkdir()
    pq.write_table(docs, same / "documents.parquet")
    half = docs.slice(0, docs.num_rows // 2)
    try:
        _QUERIES[name](spark, str(same)).collect()
        pq.write_table(half, same / "documents.parquet")
        pq.write_table(half, fresh / "documents.parquet")
        got = sorted(tuple(r) for r in _QUERIES[name](spark, str(same)).collect())
        want = sorted(tuple(r) for r in _QUERIES[name](spark, str(fresh)).collect())
    finally:
        spark.catalog.clearCache()
    assert got == want, f"{name}: {len(got)} rows after the rewrite, {len(want)} over a fresh copy"
