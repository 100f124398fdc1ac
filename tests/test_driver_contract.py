"""The query contract in tier-1: every `__spark_entry__.queries()`
entry runs in the test Spark session on the sf0.01 tables and is
compared with its `oracle_sql()` result in DuckDB by the same
function `tools/check_oracle.py` uses (row count, sorted column
names, order-insensitive value multiset). One test per query, so a
failure names the query."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.check_oracle import compare, oracle_db, parse_args

SF = parse_args([]).sf
QUERIES = entry.queries()
ORACLES = entry.oracle_sql()


@pytest.fixture(scope="module")
def oracle():
    con = oracle_db(SF)
    yield con
    con.close()


def test_contract_has_fifty_queries():
    assert len(QUERIES) == 50


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, oracle, name):
    assert name in ORACLES, f"{name} has no oracle_sql() entry"
    sdf = QUERIES[name](spark, SF)
    scols = sdf.columns
    srows = [[r[c] for c in scols] for r in sdf.collect()]
    cur = oracle.execute(ORACLES[name])
    ocols = [d[0] for d in cur.description]
    problems = compare(scols, srows, ocols, cur.fetchall())
    assert not problems, f"{name}: {'; '.join(problems)}"
