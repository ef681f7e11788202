"""Oracle-parity tests: the same check the driver performs (row count +
schema + order-insensitive exact values) for every declared query, against
DuckDB on sf0.001."""

import math

import duckdb
import pytest

from engine.queries import QUERIES
from engine.tables import TABLES, path
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path(SF_SMOKE, t)}'")
    yield con
    con.close()


def _canon(rows):
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v.hex()
        return v

    return sorted(tuple(cell(c) for c in r) for r in rows)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(spark, duck, name):
    q = QUERIES[name]
    sdf = q.fn(spark, SF_SMOKE)
    s_rows = [tuple(r) for r in sdf.collect()]
    assert len(s_rows) > 0, f"{name} returned no rows"
    rel = duck.sql(q.oracle)
    d_rows = rel.fetchall()
    assert [f.name for f in sdf.schema.fields] == list(rel.columns)
    assert len(s_rows) == len(d_rows)
    assert _canon(s_rows) == _canon(d_rows)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs = e.queries()
    osql = e.oracle_sql()
    assert set(osql) == set(qs)
    assert len(qs) == len(QUERIES)
