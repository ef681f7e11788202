"""Oracle parity: `engine.oracle.compare` (a non-empty oracle result, row
count, column names and type families, order-insensitive exact values) for
every declared query against DuckDB, on sf0.001, sf0.01 and sf0.1 and on an
adversarial copy of sf0.001 (`ADVERSARIAL`): degenerate groups, NULL keys and
texts, Unicode and whitespace edge texts, zero vectors and tied similarities,
and sums past int64, all through the shipped SQL.  Select one data set or
query with `pytest -k`, e.g. `-k sf0.1` or `-k "adversarial and mae_eval"`."""

import os
import shutil
from decimal import Decimal

import duckdb
import pytest

from engine.oracle import canon, compare, views
from engine.queries import QUERIES
from engine.tables import path
from tests.conftest import SF_DIRS, SF_SMOKE, spark_conf

# Rows appended to sf0.001's tables, each table's rows in its column order.
#
# lineitem: two (X, O) rows whose charge products price_c * 100 * 100 are
# 9e18 each, so pricing_summary's charge sum, 1.8e19, lies past int64 (and
# below 2^64); and one (X, F) row whose odd charge sum lies above 2^53, where
# the cast to double rounds.  Their order and part keys match no order or
# part, so they drop out of the joins.
# Two (Y, O) rows whose discounted products price_c * 100 are 9e18 each, so
# pricing_summary's discounted sum passes int64; l_tax -0.99 makes the charge
# factor 1, so every per-row product stays inside int64.  They sit on parts
# 2 and 12, both PROMO, so part_type_revenue's per-type revenue passes int64
# while each per-part sum stays inside it, and each has its own order key,
# which matches no order.
LINEITEM = [
    (1_000_001, 1_000_001, 1, 1, 1.0, 9e12, 0.0, 0.0, "X", "O", "1999-01-01 00:00:00"),
    (1_000_001, 1_000_002, 1, 2, 1.0, 9e12, 0.0, 0.0, "X", "O", "1999-01-01 00:00:00"),
    (1_000_002, 1_000_003, 1, 1, 1.0, 12_345_678_901.23, 0.07, 0.05, "X", "F",
     "1999-01-01 00:00:00"),
    (1_000_003, 2, 1, 1, 1.0, 9e14, 0.0, -0.99, "Y", "O", "1999-01-01 00:00:00"),
    (1_000_004, 12, 1, 1, 1.0, 9e14, 0.0, -0.99, "Y", "O", "1999-01-01 00:00:00"),
]

# events: a type whose values are constant (sigma = 0), a type whose values
# are all zero (max = 0), a click with a NULL user_id, an `edge` type whose
# values sit on both sides of behavior_classify's thresholds (5000 and 20000
# cents) and past its least(value_c, 50000) clamp, a `near_const` type whose
# double variance Σx²/n − (Σx/n)² cancels below zero, and a `huge` type whose
# Σvalue_c², 1.74e19, lies past int64.
EDGE_VALUES = (-1.0, 0.0, 49.99, 50.0, 50.01, 199.99, 200.0, 200.01, 10_000_000.0)
NEAR_CONST_VALUES = (10_000_000.07, 10_000_000.07, 10_000_000.08)
EVENTS = (
    [(10_000 + i, f"2024-01-15 12:0{i}:00", i, "const", 5.0, None) for i in range(3)]
    + [(10_003 + i, f"2024-01-16 12:0{i}:00", i, "zeros", 0.0, None) for i in range(3)]
    + [(10_006, "2024-01-17 12:00:00", None, "click", 1.0, None)]
    + [(10_007 + i, f"2024-01-18 12:0{i}:00", i, "edge", v, None)
       for i, v in enumerate(EDGE_VALUES)]
    + [(10_016 + i, f"2024-01-19 12:0{i}:00", i, "near_const", v, None)
       for i, v in enumerate(NEAR_CONST_VALUES)]
    + [(10_019 + i, f"2024-01-20 12:0{i}:00", i, "huge", v, None)
       for i, v in enumerate((30_000_000.0, 29_000_000.0))]
)

# A `wide` events type of 60,000 rows, generated in DuckDB (executemany
# inserts them one statement at a time, about 25 s on 4 vCPUs):
# value_c alternates ∓3e9, so value_c² = 9e18 fits int64 and sum_c = 0, while
# mae_eval's absdev terms are 3e9·n each and sum to 3e9·n² = 1.08e19, past
# int64 and below 2^64.  600 users, one event a minute: 100 rows per user.
GENERATED = {"events": """
SELECT 20000 + i, TIMESTAMP '2024-02-01 00:00:00' + i * INTERVAL 1 MINUTE, 20000 + i % 600,
       'wide', CASE WHEN i % 2 = 0 THEN -30000000.0 ELSE 30000000.0 END, NULL
FROM range(60000) t(i)
"""}

# documents (lang `xx`, one `source` per text so doc_token_stats compares
# each text's token count on its own): empty and whitespace-only texts, token
# counts around dedup_docs' 8-token fingerprint window, mixed whitespace runs
# (a vertical tab, which Java's regex \s matches and RE2's does not), leading
# whitespace, one huge token, many tokens, capitals whose lower() differs
# between Java and DuckDB (final sigma, dotted I, sharp s), an ASCII pair
# that differs only in case and must share a fingerprint, and a NULL text.
TEXTS = [
    "",
    " ",
    "   \t\n  ",
    "a",
    " a ",
    "a b",
    "one two three four five six seven",
    "one two three four five six seven eight",
    "one two three four five six seven eight nine ten",
    "a  b\tc\nd   e f\r\ng h i j",
    "  leading and   trailing   ",
    "UPPER Case MiXeD tokens HERE now More Than Eight Total",
    "x" * 3000,
    ("tok " * 500).strip(),
    "ends with whitespace then token   z",
    "ΒΙΒΛΟΣ one two three four five six seven eight",
    "one two three four five six seven ΒΙΒΛΟΣ nine",
    "one two three four five six seven eight ΒΙΒΛΟΣ",
    "ΣΟΦΙΑ mid-token Σ stays non-final ΑΣΦ",
    "İstanbul İİ ends İ",
    "STRASSE straße ẞ groß",
    "ΑΣ",
    "a\x0bb c",
    "Hello World of MIXED case tokens",
    "hello world of mixed CASE tokens",
    None,
]
DOCUMENTS = [(1000 + i, t, "xx", f"edge{i:02d}", None if t is None else len(t))
             for i, t in enumerate(TEXTS)]

# embeddings (64 floats): a zero vector in label 3, a one-row label 77, a
# label 78 whose two non-anchor vectors are identical (their sims tie, so
# vec_id orders them), and a label 80 whose anchor is the zero vector.
ZERO = [0.0] * 64
TIED = [float(i % 3) for i in range(64)]
EMBEDDINGS = [
    (1000, ZERO, 3),
    (1001, [1.0] * 64, 77),
    (1002, [float(i % 5) for i in range(64)], 78),
    (1003, TIED, 78),
    (1004, TIED, 78),
    (1005, ZERO, 80),
    (1006, [1.0] * 64, 80),
    (1007, [float(i % 7) for i in range(64)], 80),
]

ADVERSARIAL = {"lineitem": LINEITEM, "events": EVENTS, "documents": DOCUMENTS,
               "embeddings": EMBEDDINGS}


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    """dataset(name) -> (sf_dir, DuckDB connection over it), built once per
    name: a generated scale-factor dir as is, or `adversarial`, a copy of
    sf0.001 whose tables carry the ADVERSARIAL and GENERATED rows."""
    built = {}

    def get(name):
        if name not in built:
            sf_dir = name
            if name == "adversarial":
                sf_dir = str(tmp_path_factory.mktemp("adversarial") / "sf0.001")
                shutil.copytree(SF_SMOKE, sf_dir)
                with duckdb.connect() as w:
                    for table, rows in ADVERSARIAL.items():
                        w.execute(f"CREATE TABLE {table} AS FROM '{path(SF_SMOKE, table)}'")
                        w.executemany(
                            f"INSERT INTO {table} VALUES ({', '.join('?' * len(rows[0]))})", rows)
                        if table in GENERATED:
                            w.execute(f"INSERT INTO {table} {GENERATED[table]}")
                        w.execute(f"COPY {table} TO '{path(sf_dir, table)}' (FORMAT parquet)")
            con = duckdb.connect()
            views(con, sf_dir)
            built[name] = sf_dir, con
        return built[name]

    yield get
    for _, con in built.values():
        con.close()


def check_parity(spark, dataset, name):
    """Assert the oracle's answer; return the executed DataFrame."""
    sf_dir, con = dataset
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    assert compare(df, con.sql(q.oracle)) == []
    return df


# sf0.001's cases keep the bare query name as their id; the larger scale
# factors prefix theirs with the data set, e.g. `sf0.1-mae_eval`.
@pytest.mark.parametrize("sf_dir, name", [
    pytest.param(sf, name, id=name if sf == SF_SMOKE else f"{os.path.basename(sf)}-{name}")
    for sf in SF_DIRS for name in sorted(QUERIES)])
def test_oracle_parity(spark, dataset, sf_dir, name):
    check_parity(spark, dataset(sf_dir), name)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity_adversarial(spark, dataset, name):
    check_parity(spark, dataset("adversarial"), name)


@pytest.mark.parametrize("name", sorted(n for n, q in QUERIES.items() if "JOIN" in q.sql))
def test_oracle_parity_shuffled(spark, dataset, name):
    """The plan once no join side is small enough to broadcast: every join
    still gives the oracle's answer, and AQE runs each one as a shuffled hash
    join (engine/session.py's maxShuffledHashJoinLocalMapThreshold)."""
    with spark_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = check_parity(spark, dataset("adversarial"), name)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan[plan.index("== Final Plan =="):plan.index("== Initial Plan ==")]
    assert "ShuffledHashJoin" in final, plan
    assert "SortMergeJoin" not in final and "BroadcastHashJoin" not in final, plan


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
