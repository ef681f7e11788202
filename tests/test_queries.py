"""Oracle-parity tests: `engine.oracle.compare` (row count, column names and
type families, order-insensitive exact values) for every declared query,
against DuckDB on sf0.001 and on an adversarial copy of it with degenerate
groups and a NULL key."""

import shutil
from decimal import Decimal

import duckdb
import pytest

from engine.oracle import canon, compare, views
from engine.queries import QUERIES
from engine.tables import path
from tests.conftest import SF_SMOKE

# Rows appended to sf0.001's events: a type whose values are constant
# (sigma = 0), a type whose values are all zero (max = 0), a click with a
# NULL user_id, and an `edge` type whose values sit on both sides of
# behavior_classify's thresholds (5000 and 20000 cents) and past its
# least(value_c, 50000) clamp.
EDGE_VALUES = (-1.0, 0.0, 49.99, 50.0, 50.01, 199.99, 200.0, 200.01, 10_000_000.0)
ADVERSARIAL_EVENTS = (
    [(10_000 + i, f"2024-01-15 12:0{i}:00", i, "const", 5.0) for i in range(3)]
    + [(10_003 + i, f"2024-01-16 12:0{i}:00", i, "zeros", 0.0) for i in range(3)]
    + [(10_006, "2024-01-17 12:00:00", None, "click", 1.0)]
    + [(10_007 + i, f"2024-01-18 12:0{i}:00", i, "edge", v) for i, v in enumerate(EDGE_VALUES)]
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    views(con, SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="module")
def adversarial(tmp_path_factory):
    """A copy of sf0.001 whose events carry ADVERSARIAL_EVENTS, with a DuckDB
    connection over it: (sf_dir, con)."""
    sf_dir = str(tmp_path_factory.mktemp("adversarial") / "sf0.001")
    shutil.copytree(SF_SMOKE, sf_dir)
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * FROM '{path(SF_SMOKE, 'events')}'
                  UNION ALL
                  SELECT CAST(id AS BIGINT), CAST(ts AS TIMESTAMP), CAST(uid AS BIGINT),
                         typ, CAST(v AS DOUBLE), CAST(NULL AS VARCHAR)
                  FROM (VALUES {", ".join("(?, ?, ?, ?, ?)" for _ in ADVERSARIAL_EVENTS)})
                       AS t(id, ts, uid, typ, v))
            TO '{path(sf_dir, 'events')}' (FORMAT parquet)""",
        [c for row in ADVERSARIAL_EVENTS for c in row])
    views(con, sf_dir)
    yield sf_dir, con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(spark, duck, name):
    q = QUERIES[name]
    rel = duck.sql(q.oracle)
    assert compare(q.fn(spark, SF_SMOKE), rel) == []
    assert rel.fetchone() is not None, f"{name} returned no rows"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity_adversarial(spark, adversarial, name):
    sf_dir, con = adversarial
    q = QUERIES[name]
    assert compare(q.fn(spark, sf_dir), con.sql(q.oracle)) == []


def test_null_nan_signed_zero_and_mixed_types_sort_exactly():
    rows = [(None, 1), (float("nan"), 2), (-0.0, 3), (0.0, 4), (7, 5), ("a", 6),
            (None, None), (2.5, "x"), ("NaN", 7)]
    assert canon(rows) == canon(list(reversed(rows)))
    assert canon(rows) == canon(rows[4:] + rows[:4])
    assert canon([(0.0,)]) != canon([(-0.0,)])
    assert canon([(None,)]) != canon([("NaN",)])
    assert canon([(float("nan"),)]) != canon([("nan",)])
    assert canon([(float("nan"),)]) == canon([(float("-nan"),)])
    assert canon([(Decimal(1),), (-1,), (None,)])[0] == canon([(None,)])[0]  # NULL first


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs = e.queries()
    osql = e.oracle_sql()
    assert set(osql) == set(qs)
    assert len(qs) == len(QUERIES)
