r"""Declared queries: Spark SQL texts and their DuckDB oracle SQL.

Each query is one Spark SQL statement whose `{table}` placeholders name the
tables it reads.  `Query.fn` looks each named table up once (through the
module-level `load`, which returns the table's temp view, registered in the
session's catalog on first use) and substitutes the view names into the
text, so the whole query is one `spark.sql` call, parsed and analyzed once,
with no view created or dropped per build.  A view's name depends only on its
table file, so queries built concurrently in one session share the views.

Writing the texts:

* A double literal needs the `D` suffix (`100.0D`); a bare `100.0` is a
  DECIMAL in Spark SQL and changes the types and the plan.
* The texts go through Python's string formatter, so literal braces are
  doubled (a regex `{{0,7}}`).  Spark SQL unescapes backslashes in string
  literals, so the regex `\s+` is written `'\\s+'` (in a raw Python string).
* A Spark text departs from its oracle's direct form only for an answer
  (an adversarial row of tests/test_queries.py that the direct form gets
  wrong) or for a plan change that measures as faster, and its comment
  names which.  "Measures as faster" is the warm per-query probe,
  `python tools/probe_texts.py <sf_dir> <checkout with the other form>`:
  the departure stays when it wins at least 12 of the 15 rounds at sf0.001
  or at sf0.1 (a coin flip does that less than 2% of the time), and its
  comment quotes both medians, departure first, and its rounds won.
  Spark's size-based planner and AQE pick every join; the texts carry no
  join hints.  The plan gate, `tools/dump_plans.py <out_dir> <sf_dir>` in
  two checkouts and `diff -r`, is empty at sf0.001 and sf0.1 for a
  construct that changes no plan.

Numerical discipline (so the DuckDB oracle value-hash matches bit-for-bit):

* All 2-decimal monetary/metric doubles (`l_extendedprice`, `l_discount`,
  `l_tax`, `o_totalprice`, `value`, `p_retailprice`, ...) are converted to
  exact integer cents (`CAST(round(x * 100, 0) AS BIGINT)`) before any
  aggregation.  Integer sums are exact and order-independent, so Spark's
  nondeterministic partial-aggregation order cannot flip a bit.
* Doubles only re-appear through deterministic IEEE-754 ops (cast of the
  same exact integer, division, sqrt, abs, comparisons) applied in an
  expression tree mirrored exactly between the Spark plan and the oracle
  SQL.
* Timestamps are exported as epoch seconds / microseconds (BIGINT) or
  `yyyy-MM-dd` strings, never raw timestamps.  Both epoch forms use
  `timestampdiff` from `TIMESTAMP_NTZ'1970-01-01 00:00:00'`, which is
  timezone-free on the declared NTZ columns.
* Every `row_number` ordering carries a unique tiebreak column.
"""

from __future__ import annotations

from dataclasses import dataclass
from string import Formatter

from pyspark.sql import DataFrame, SparkSession

from engine.tables import load


@dataclass(frozen=True)
class Query:
    sql: str  # Spark SQL; each `{name}` placeholder is the table `name`
    oracle: str  # DuckDB SQL over pre-registered views

    @property
    def tables(self) -> tuple[str, ...]:
        """The tables the text names, each once, in order of first use."""
        return tuple(dict.fromkeys(f for _, f, _, _ in Formatter().parse(self.sql) if f))

    def fn(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(self.sql.format(**{t: load(spark, sf_dir, t) for t in self.tables}))


# ---------------------------------------------------------------------------
# OLAP core
# ---------------------------------------------------------------------------

# TPC-H Q1 analog: per (returnflag, linestatus) pricing summary.
# The disc/charge products are ~1e9/~1e11 per row, so a BIGINT sum wraps past
# ~1e8-1e10 rows per group.  Both sum as decimal(38,0), exact and
# order-independent like DuckDB's HUGEINT sum; as plain sums they abort with
# ARITHMETIC_OVERFLOW on the adversarial `lineitem` rows.
PRICING_SUMMARY = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_c,
         CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_c
  FROM {lineitem}
  WHERE l_shipdate <= TIMESTAMP_NTZ'2000-09-02 00:00:00'
), g AS (
  SELECT l_returnflag, l_linestatus,
         sum(qty) AS sum_qty,
         sum(price_c) AS sum_price_c,
         sum(CAST(price_c * (100 - disc_c) AS DECIMAL(38,0))) AS sum_disc_u,
         sum(CAST(price_c * (100 - disc_c) * (100 + tax_c) AS DECIMAL(38,0))) AS sum_charge_u,
         sum(disc_c) AS sum_disc_c,
         count(1) AS count_order
  FROM li GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty,
       CAST(sum_price_c AS DOUBLE) / 100.0D AS sum_base_price,
       CAST(sum_disc_u AS DOUBLE) / 10000.0D AS sum_disc_price,
       CAST(sum_charge_u AS DOUBLE) / 1000000.0D AS sum_charge,
       CAST(sum_qty AS DOUBLE) / CAST(count_order AS DOUBLE) AS avg_qty,
       CAST(sum_price_c AS DOUBLE) / CAST(count_order AS DOUBLE) / 100.0D AS avg_price,
       CAST(sum_disc_c AS DOUBLE) / CAST(count_order AS DOUBLE) / 100.0D AS avg_disc,
       count_order
FROM g
"""

PRICING_SUMMARY_ORACLE = """
WITH c AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice*100, 0) AS BIGINT) AS price_c,
         CAST(round(l_discount*100, 0) AS BIGINT) AS disc_c,
         CAST(round(l_tax*100, 0) AS BIGINT) AS tax_c
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
), g AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(sum(price_c) AS BIGINT) AS sum_price_c,
         sum(price_c*(100-disc_c)) AS sum_disc_u,
         sum(price_c*(100-disc_c)*(100+tax_c)) AS sum_charge_u,
         CAST(sum(disc_c) AS BIGINT) AS sum_disc_c,
         count(*) AS count_order
  FROM c GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, sum_qty,
       CAST(sum_price_c AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(sum_disc_u AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(sum_charge_u AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST(sum_qty AS DOUBLE) / CAST(count_order AS DOUBLE) AS avg_qty,
       CAST(sum_price_c AS DOUBLE) / CAST(count_order AS DOUBLE) / 100.0 AS avg_price,
       CAST(sum_disc_c AS DOUBLE) / CAST(count_order AS DOUBLE) / 100.0 AS avg_disc,
       count_order
FROM g
"""


# Top-3 customers by lineitem revenue within each nation.
# Aggregated per order and then per customer before customer is joined, so
# the joins run at order grain, not line grain.  Probe against the oracle's
# join-then-aggregate form: sf0.001 252 vs 239 ms (3/15), sf0.1 789 vs
# 1040 ms (15/15).
TOP_CUSTOMERS = """
WITH li AS (
  SELECT l_orderkey,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_u
  FROM {lineitem}
), per_order AS (
  SELECT l_orderkey, sum(rev_u) AS rev_u FROM li GROUP BY l_orderkey
), per_cust AS (
  SELECT o_custkey, sum(rev_u) AS rev_u
  FROM per_order JOIN {orders} ON l_orderkey = o_orderkey
  GROUP BY o_custkey
), rev AS (
  SELECT *
  FROM per_cust
  JOIN {customer} ON o_custkey = c_custkey
  JOIN {nation} ON c_nationkey = n_nationkey
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY rev_u DESC, c_custkey ASC) AS rank
  FROM rev
)
SELECT n_name, rank, c_custkey, c_name, CAST(rev_u AS DOUBLE) / 10000.0D AS revenue
FROM ranked WHERE rank <= 3
"""

TOP_CUSTOMERS_ORACLE = """
WITH rev AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)
                  * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS BIGINT) AS rev_u
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT n_name, c_custkey, c_name, rev_u,
         row_number() OVER (PARTITION BY n_name ORDER BY rev_u DESC, c_custkey ASC) AS rank
  FROM rev JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, CAST(rank AS BIGINT) AS rank, c_custkey, c_name,
       CAST(rev_u AS DOUBLE) / 10000.0 AS revenue
FROM ranked WHERE rank <= 3
"""


# Revenue and volume per part type.
# Aggregate lineitem per partkey before the join: the join then runs at part
# grain; retailprice is weighted by the line count so the result is identical
# to joining at line grain.  Probe against the oracle's line-grain join:
# sf0.001 164 vs 159 ms (4/15), sf0.1 482 vs 844 ms (15/15).  Per-part
# rev_u stays BIGINT (bounded by lines-per-part), but the per-type total can
# pass int64, so it sums as decimal(38,0) (DuckDB's HUGEINT); as a plain sum
# it aborts with ARITHMETIC_OVERFLOW on the adversarial `lineitem` rows.
PART_TYPE_REVENUE = """
WITH li AS (
  SELECT l_partkey,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_u
  FROM {lineitem}
), p AS (
  SELECT p_partkey, p_type, CAST(round(p_retailprice * 100, 0) AS BIGINT) AS retail_c
  FROM {part}
), per_part AS (
  SELECT l_partkey, count(1) AS n_lines, sum(qty) AS sum_qty, sum(rev_u) AS rev_u
  FROM li GROUP BY l_partkey
), g AS (
  SELECT p_type,
         sum(n_lines) AS n_lines,
         sum(sum_qty) AS sum_qty,
         sum(CAST(rev_u AS DECIMAL(38,0))) AS rev_u,
         sum(retail_c * n_lines) AS retail_c_sum
  FROM per_part JOIN p ON l_partkey = p_partkey
  GROUP BY p_type
)
SELECT p_type, n_lines, sum_qty,
       CAST(rev_u AS DOUBLE) / 10000.0D AS revenue,
       CAST(retail_c_sum AS DOUBLE) / CAST(n_lines AS DOUBLE) / 100.0D AS avg_retail
FROM g
"""

PART_TYPE_REVENUE_ORACLE = """
WITH j AS (
  SELECT p_type,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice*100,0) AS BIGINT)
           * (100 - CAST(round(l_discount*100,0) AS BIGINT)) AS rev_u,
         CAST(round(p_retailprice*100,0) AS BIGINT) AS retail_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
), g AS (
  SELECT p_type, count(*) AS n_lines,
         CAST(sum(qty) AS BIGINT) AS sum_qty,
         sum(rev_u) AS rev_u,
         CAST(sum(retail_c) AS BIGINT) AS retail_c_sum
  FROM j GROUP BY 1
)
SELECT p_type, n_lines, sum_qty,
       CAST(rev_u AS DOUBLE) / 10000.0 AS revenue,
       CAST(retail_c_sum AS DOUBLE) / CAST(n_lines AS DOUBLE) / 100.0 AS avg_retail
FROM g
"""


# ---------------------------------------------------------------------------
# Telemetry pipeline (reference capabilities mapped onto `events`)
# ---------------------------------------------------------------------------

# The events columns the telemetry queries start from, `value` in exact cents
# and `ts` in epoch microseconds.  gap_stats, sessionize, window_features and
# dominant_behavior partition their windows by user_id, so one user's events
# are one task's work.  At sf0.1 (DuckDB over events.parquet) 1,500 users hold
# 100,000 events: median 66 per user, p99 86, max 99, no NULL user_id.
_EVENTS_C = """
WITH ev AS (
  SELECT event_id, ts, user_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS value_c,
         timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) AS t_us
  FROM {events}
)"""


# Sample-rate normalization analog: hourly grid per user with exact stats.
RESAMPLE_GRID = _EVENTS_C + """, g AS (
  SELECT user_id,
         timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', date_trunc('hour', ts)) AS bucket_s,
         count(1) AS n, sum(value_c) AS sum_c, min(value_c) AS min_c, max(value_c) AS max_c
  FROM ev GROUP BY user_id, bucket_s
)
SELECT user_id, bucket_s, n,
       CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE) / 100.0D AS avg_value,
       CAST(min_c AS DOUBLE) / 100.0D AS min_value,
       CAST(max_c AS DOUBLE) / 100.0D AS max_value
FROM g
"""

RESAMPLE_GRID_ORACLE = """
WITH c AS (
  SELECT user_id,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_s,
         CAST(round(value*100,0) AS BIGINT) AS value_c
  FROM events
), g AS (
  SELECT user_id, bucket_s, count(*) AS n,
         CAST(sum(value_c) AS BIGINT) AS sum_c,
         min(value_c) AS min_c, max(value_c) AS max_c
  FROM c GROUP BY 1, 2
)
SELECT user_id, bucket_s, n,
       CAST(sum_c AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS avg_value,
       CAST(min_c AS DOUBLE) / 100.0 AS min_value,
       CAST(max_c AS DOUBLE) / 100.0 AS max_value
FROM g
"""


# Interpolation-feasibility analog: inter-event gaps per user; gaps above the
# max-interpolation threshold (1h) counted as voids.
GAP_STATS = _EVENTS_C + """, g AS (
  SELECT *, t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC) AS gap_us
  FROM ev
)
SELECT user_id, count(1) AS n_gaps, max(gap_us) AS max_gap_us,
       sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS n_void,
       CAST(sum(gap_us) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1000000.0D AS avg_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
"""

GAP_STATS_ORACLE = """
WITH t AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events
), g AS (
  SELECT user_id,
         t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC) AS gap_us
  FROM t
)
SELECT user_id, count(*) AS n_gaps, max(gap_us) AS max_gap_us,
       CAST(sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_void,
       CAST(sum(gap_us) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS avg_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


# Sessionization: 30-minute inactivity gap starts a new session; per-user
# session count / size / duration stats.
SESSIONIZE = _EVENTS_C + """, flagged AS (
  SELECT *,
         CASE WHEN t_us - lag(t_us) OVER w IS NULL
                OR t_us - lag(t_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC)
), sessed AS (
  SELECT *,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM flagged
), per_sess AS (
  SELECT user_id, sess, count(1) AS n_events, max(t_us) - min(t_us) AS dur_us
  FROM sessed GROUP BY user_id, sess
)
SELECT user_id, count(1) AS n_sessions, sum(n_events) AS total_events,
       CAST(sum(dur_us) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 1000000.0D AS avg_session_s,
       CAST(max(dur_us) AS DOUBLE) / 1000000.0D AS max_session_s
FROM per_sess GROUP BY user_id
"""

SESSIONIZE_ORACLE = """
WITH t AS (
  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events
), flagged AS (
  SELECT user_id, event_id, t_us,
         CASE WHEN t_us - lag(t_us) OVER w IS NULL
                OR t_us - lag(t_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC)
), sessed AS (
  SELECT user_id, t_us,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us ASC, event_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
  FROM flagged
), per_sess AS (
  SELECT user_id, sess, count(*) AS n_events, max(t_us) - min(t_us) AS dur_us
  FROM sessed GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       CAST(sum(dur_us) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS avg_session_s,
       CAST(max(dur_us) AS DOUBLE) / 1000000.0 AS max_session_s
FROM per_sess GROUP BY user_id
"""


# Rule-based behavior classification (reference cf_* analog): each event is
# classified by intensity; per (day, event_type, behavior) confidence stats.
# Confidence is in basis points: a clipped linear ramp of intensity, exact
# ints.  Group on the DATE and format only the grouped output rows, so the
# pre-shuffle Project computes no per-row date_format.  Probe against
# grouping on the formatted string: sf0.001 106 vs 107 ms (6/15), sf0.1 156
# vs 198 ms (14/15).
BEHAVIOR_CLASSIFY = _EVENTS_C + """, c AS (
  SELECT to_date(ts) AS day_d, event_type,
         CASE WHEN value_c >= 20000 THEN 'surge' WHEN value_c >= 5000 THEN 'active'
              ELSE 'idle' END AS behavior,
         least(value_c, 50000) AS conf_bp,
         value_c
  FROM ev
), g AS (
  SELECT day_d, event_type, behavior, count(1) AS n,
         sum(conf_bp) AS sum_conf_bp, sum(value_c) AS sum_value_c
  FROM c GROUP BY day_d, event_type, behavior
)
SELECT date_format(day_d, 'yyyy-MM-dd') AS day, event_type, behavior, n,
       CAST(sum_conf_bp AS DOUBLE) / CAST(n AS DOUBLE) / 50000.0D AS avg_conf,
       CAST(sum_value_c AS DOUBLE) / CAST(n AS DOUBLE) / 100.0D AS avg_value
FROM g
"""

BEHAVIOR_CLASSIFY_ORACLE = """
WITH c AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
         CAST(round(value*100,0) AS BIGINT) AS value_c
  FROM events
), b AS (
  SELECT day, event_type,
         CASE WHEN value_c >= 20000 THEN 'surge'
              WHEN value_c >= 5000 THEN 'active'
              ELSE 'idle' END AS behavior,
         least(value_c, 50000) AS conf_bp,
         value_c
  FROM c
), g AS (
  SELECT day, event_type, behavior, count(*) AS n,
         CAST(sum(conf_bp) AS BIGINT) AS sum_conf_bp,
         CAST(sum(value_c) AS BIGINT) AS sum_value_c
  FROM b GROUP BY 1, 2, 3
)
SELECT day, event_type, behavior, n,
       CAST(sum_conf_bp AS DOUBLE) / CAST(n AS DOUBLE) / 50000.0 AS avg_conf,
       CAST(sum_value_c AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS avg_value
FROM g
"""


# Exclusivity-rule analog: per (user, day) keep only the dominant event type
# by total intensity (deterministic argmax with tiebreak).  Group on the
# DATE and format only the output rows, as in BEHAVIOR_CLASSIFY; probe
# against the string key: sf0.001 137 vs 133 ms (7/15), sf0.1 527 vs 587 ms
# (12/15).  The per-(user, day) totals are window aggregates over the
# row_number window's partitioning instead of the oracle's second
# aggregation joined back; probe: sf0.001 131 vs 216 ms (15/15), sf0.1 452
# vs 545 ms (15/15).  A NULL user_id is one group here and in the oracle
# (its totals join IS NOT DISTINCT FROM).
DOMINANT_BEHAVIOR = _EVENTS_C + """, g AS (
  SELECT user_id, to_date(ts) AS day_d, event_type, sum(value_c) AS sum_c, count(1) AS n
  FROM ev GROUP BY user_id, day_d, event_type
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, day_d ORDER BY sum_c DESC, event_type ASC) AS rn,
         sum(sum_c) OVER wall AS tot_c,
         count(1) OVER wall AS n_types
  FROM g
  WINDOW wall AS (PARTITION BY user_id, day_d)
)
SELECT user_id, date_format(day_d, 'yyyy-MM-dd') AS day, event_type AS dominant_type,
       n_types,
       CAST(sum_c AS DOUBLE) / 100.0D AS dominant_value,
       CAST(tot_c AS DOUBLE) / 100.0D AS total_value
FROM ranked WHERE rn = 1
"""

DOMINANT_BEHAVIOR_ORACLE = """
WITH c AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, event_type,
         CAST(round(value*100,0) AS BIGINT) AS value_c
  FROM events
), g AS (
  SELECT user_id, day, event_type,
         CAST(sum(value_c) AS BIGINT) AS sum_c, count(*) AS n
  FROM c GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, day
                               ORDER BY sum_c DESC, event_type ASC) AS rn
  FROM g
), tot AS (
  SELECT user_id, day, CAST(sum(sum_c) AS BIGINT) AS tot_c, count(*) AS n_types
  FROM g GROUP BY 1, 2
)
SELECT r.user_id, r.day, r.event_type AS dominant_type, t.n_types,
       CAST(r.sum_c AS DOUBLE) / 100.0 AS dominant_value,
       CAST(t.tot_c AS DOUBLE) / 100.0 AS total_value
FROM ranked r JOIN tot t ON r.user_id IS NOT DISTINCT FROM t.user_id AND r.day = t.day
WHERE r.rn = 1
"""


# Sliding-window feature extraction analog (3-sample rolling stats per user,
# ordered by time).
WINDOW_FEATURES = _EVENTS_C + """, r AS (
  SELECT event_id, user_id,
         sum(value_c) OVER w AS roll_sum_c,
         count(1) OVER w AS roll_n,
         max(value_c) OVER w AS roll_max_c
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, roll_n,
       CAST(roll_sum_c AS DOUBLE) / CAST(roll_n AS DOUBLE) / 100.0D AS roll_avg,
       CAST(roll_max_c AS DOUBLE) / 100.0D AS roll_max
FROM r
"""

WINDOW_FEATURES_ORACLE = """
WITH c AS (
  SELECT event_id, ts, user_id, CAST(round(value*100,0) AS BIGINT) AS value_c
  FROM events
), r AS (
  SELECT event_id, user_id,
         CAST(sum(value_c) OVER w AS BIGINT) AS roll_sum_c,
         count(*) OVER w AS roll_n,
         max(value_c) OVER w AS roll_max_c
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, roll_n,
       CAST(roll_sum_c AS DOUBLE) / CAST(roll_n AS DOUBLE) / 100.0 AS roll_avg,
       CAST(roll_max_c AS DOUBLE) / 100.0 AS roll_max
FROM r
"""


# Exact per-event-type sufficient statistics -> (mu, sigma) doubles, one
# aggregate appended to `_EVENTS_C` as the CTE `stats`.  value_c^2 is ~2.5e9
# per row, so a BIGINT sum of squares wraps past ~3.7e9 rows per event type:
# it sums as decimal(38,0) (DuckDB's HUGEINT sum); as a plain sum it aborts
# with ARITHMETIC_OVERFLOW on the adversarial `huge` events.  sum(value_c)
# stays BIGINT, exact to ~2e14 rows/type.  The variance numerator
# count * sum(value_c^2) - sum(value_c)^2 is decimal(38,0) too (HUGEINT in the
# oracle), exact and never negative.  The double form can cancel below zero
# on near-constant large values (10,000,000.07, .07, .08 give -128), whose
# sqrt is NaN.  A constant type gets sigma 0, hence the nullif below.
_TYPE_STATS = """, stats AS (
  SELECT event_type, count(1) AS n_type,
         CAST(sum(value_c) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 100.0D AS mu,
         sqrt(CAST(count(1) * sum(CAST(value_c * value_c AS DECIMAL(38,0)))
                   - CAST(sum(value_c) AS DECIMAL(38,0)) * sum(value_c) AS DOUBLE))
           / CAST(count(1) AS DOUBLE) / 100.0D AS sigma,
         sum(value_c) AS sum_c
  FROM ev GROUP BY event_type
)"""

_TYPE_STATS_ORACLE = """
  SELECT event_type,
         CAST(sum(value_c) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0 AS mu,
         sqrt(CAST(count(*) * sum(CAST(value_c AS HUGEINT) * value_c)
                   - CAST(sum(value_c) AS HUGEINT) * CAST(sum(value_c) AS HUGEINT) AS DOUBLE))
           / CAST(count(*) AS DOUBLE) / 100.0 AS sigma
  FROM c GROUP BY event_type
"""


# Feature normalization analog: per-event z-score against per-type stats;
# sigma = 0 gives a NULL z, as DuckDB's x / 0.0 does, not ANSI's DIVIDE_BY_ZERO.
ZSCORE = _EVENTS_C + _TYPE_STATS + """
SELECT event_id, event_type,
       (CAST(value_c AS DOUBLE) / 100.0D - mu) / nullif(sigma, 0.0D) AS z
FROM ev JOIN stats USING (event_type)
"""

ZSCORE_ORACLE = f"""
WITH c AS (
  SELECT event_id, event_type, CAST(round(value*100,0) AS BIGINT) AS value_c
  FROM events
), stats AS ({_TYPE_STATS_ORACLE})
SELECT c.event_id, c.event_type,
       (CAST(c.value_c AS DOUBLE) / 100.0 - s.mu) / s.sigma AS z
FROM c JOIN stats s ON c.event_type = s.event_type
"""


# Anomaly-score analog: per user, rate of events with |z| > 2.5 and the worst
# deviation (sigma = 0 gives a NULL |z|, as in ZSCORE).
ANOMALY_USERS = _EVENTS_C + _TYPE_STATS + """, z AS (
  SELECT user_id,
         abs((CAST(value_c AS DOUBLE) / 100.0D - mu) / nullif(sigma, 0.0D)) AS abs_z
  FROM ev JOIN stats USING (event_type)
)
SELECT user_id, count(1) AS n,
       sum(CASE WHEN abs_z > 2.5D THEN 1 ELSE 0 END) AS n_anom,
       CAST(sum(CASE WHEN abs_z > 2.5D THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(1) AS DOUBLE) AS anom_rate,
       max(abs_z) AS max_abs_z
FROM z GROUP BY user_id
"""

ANOMALY_USERS_ORACLE = f"""
WITH c AS (
  SELECT user_id, event_type, CAST(round(value*100,0) AS BIGINT) AS value_c
  FROM events
), stats AS ({_TYPE_STATS_ORACLE})
, z AS (
  SELECT c.user_id,
         abs((CAST(c.value_c AS DOUBLE) / 100.0 - s.mu) / s.sigma) AS abs_z
  FROM c JOIN stats s ON c.event_type = s.event_type
)
SELECT user_id, count(*) AS n,
       CAST(sum(CASE WHEN abs_z > 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
       CAST(sum(CASE WHEN abs_z > 2.5 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS anom_rate,
       max(abs_z) AS max_abs_z
FROM z GROUP BY user_id
"""


# Reliability-diagram analog: decile bins of value relative to the per-type
# max; per (type, bin) count and mean.  max = 0 divides by NULL (DuckDB's x / 0.0),
# so least(NULL, 9) = bin 9.
RELIABILITY_BINS = _EVENTS_C + """, mx AS (
  SELECT event_type, max(value_c) AS max_c FROM ev GROUP BY event_type
), binned AS (
  SELECT event_type,
         least(floor(CAST(value_c AS DOUBLE) * 10.0D / CAST(nullif(max_c, 0) AS DOUBLE)), 9) AS bin,
         value_c
  FROM ev JOIN mx USING (event_type)
)
SELECT event_type, bin, count(1) AS n,
       CAST(sum(value_c) AS DOUBLE) / CAST(count(1) AS DOUBLE) / 100.0D AS avg_value
FROM binned GROUP BY event_type, bin
"""

RELIABILITY_BINS_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value*100,0) AS BIGINT) AS value_c FROM events
), mx AS (
  SELECT event_type, max(value_c) AS max_c FROM c GROUP BY 1
), binned AS (
  SELECT c.event_type,
         CAST(least(floor(CAST(c.value_c AS DOUBLE) * 10.0 / CAST(m.max_c AS DOUBLE)), 9) AS BIGINT) AS bin,
         c.value_c
  FROM c JOIN mx m ON c.event_type = m.event_type
)
SELECT event_type, bin, count(*) AS n,
       CAST(sum(value_c) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0 AS avg_value
FROM binned GROUP BY 1, 2
"""


# MAE-evaluation analog: per event type, mean absolute deviation of values
# from the type mean, computed in exact integer arithmetic.  Each absdev term
# is ~value_c*n_type (~5e15 at 1e11 rows/type, still a valid BIGINT), but
# their per-type sum grows ~n^2 and wraps int64 past ~sf200: accumulate as
# decimal(38,0), as DuckDB's HUGEINT sum of BIGINT absdev does; as a plain
# sum it aborts with ARITHMETIC_OVERFLOW on the adversarial `wide` events.
MAE_EVAL = _EVENTS_C + _TYPE_STATS + """
SELECT event_type, max(n_type) AS n,
       CAST(max(sum_c) AS DOUBLE) / CAST(max(n_type) AS DOUBLE) / 100.0D AS mean_value,
       CAST(sum(CAST(abs(value_c * n_type - sum_c) AS DECIMAL(38,0))) AS DOUBLE)
         / CAST(max(n_type) AS DOUBLE) / CAST(max(n_type) AS DOUBLE) / 100.0D AS mae
FROM ev JOIN stats USING (event_type)
GROUP BY event_type
"""

MAE_EVAL_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value*100,0) AS BIGINT) AS value_c FROM events
), stats AS (
  SELECT event_type, count(*) AS n_type, CAST(sum(value_c) AS BIGINT) AS sum_c
  FROM c GROUP BY 1
), j AS (
  SELECT c.event_type, s.n_type, s.sum_c,
         abs(c.value_c * s.n_type - s.sum_c) AS absdev
  FROM c JOIN stats s ON c.event_type = s.event_type
)
SELECT event_type, max(n_type) AS n,
       CAST(max(sum_c) AS DOUBLE) / CAST(max(n_type) AS DOUBLE) / 100.0 AS mean_value,
       CAST(sum(absdev) AS DOUBLE) / CAST(max(n_type) AS DOUBLE)
         / CAST(max(n_type) AS DOUBLE) / 100.0 AS mae
FROM j GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# LLM data pipeline operators
# ---------------------------------------------------------------------------

# Near-duplicate detection: fingerprint = md5 of the sorted first 8 tokens of
# the normalized text; keep the smallest doc_id per cluster.
# Only the first 8 tokens matter, so extract just that prefix (the anchored
# greedy regex stops scanning after the 8th token) instead of normalizing,
# splitting and slicing the whole document as the oracle does: same
# fingerprint.  Probe against that direct form: sf0.001 95 vs 108 ms (12/15),
# sf0.1 127 vs 190 ms (15/15).
# Normalization is an ASCII case fold (translate A-Z -> a-z) and whitespace
# is Java's regex \s, [ \t\n\x0B\f\r]; the oracle writes that class out,
# because RE2's \s lacks \x0B.  No Unicode case mapping is bit-identical in
# both engines: Spark's lower() and DuckDB's differ on 143 code points in
# U+0020-U+2FFFF (final sigma, dotted capital I, and 140 from their different
# Unicode versions), so non-ASCII capitals keep their case on both sides.  The
# fold maps one code point to one and never touches whitespace, so it runs on
# the extracted prefix only.  The `documents` rows of tests/test_queries.py's
# ADVERSARIAL dataset cover these edges.
DEDUP_DOCS = r"""
WITH d AS (
  SELECT doc_id,
         md5(array_join(sort_array(filter(
             split(translate(regexp_extract(text, '^\\s*(?:\\S+\\s+){{0,7}}\\S*', 0),
                             'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                   '\\s+'),
             x -> x != '')), ' ')) AS fingerprint,
         n_chars
  FROM {documents}
)
SELECT fingerprint, min(doc_id) AS survivor_id, count(1) AS cluster_size,
       sum(n_chars) AS total_chars
FROM d GROUP BY fingerprint
"""

DEDUP_DOCS_ORACLE = """
WITH d AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_slice(
             string_split(trim(regexp_replace(
                 translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                 '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' '),
             1, 8)), ' ')) AS fingerprint,
         n_chars
  FROM documents
)
SELECT fingerprint, min(doc_id) AS survivor_id, count(*) AS cluster_size,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM d GROUP BY fingerprint
"""


# Text-pipeline stats: per (lang, source) token and char counts.
DOC_TOKEN_STATS = """
WITH d AS (
  SELECT lang, source, CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
  FROM {documents}
)
SELECT lang, source, count(1) AS n_docs, sum(n_tokens) AS total_tokens,
       sum(n_chars) AS total_chars, max(n_tokens) AS max_tokens,
       CAST(sum(n_chars) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avg_chars
FROM d GROUP BY lang, source
"""

DOC_TOKEN_STATS_ORACLE = """
WITH d AS (
  SELECT lang, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, n_chars
  FROM documents
)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(n_tokens) AS max_tokens,
       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
FROM d GROUP BY 1, 2
"""


def _dot(a: str, b: str) -> str:
    """Spark SQL for the double dot product of two float arrays."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (x, y) -> x + y)")


# Vector similarity search: top-5 nearest embeddings (cosine) to each label's
# anchor vector (the lowest vec_id of that label).
# A zero vector (or a zero anchor) has norm 0: try_divide makes its sim NULL,
# as DuckDB's x / 0.0 does, instead of ANSI's DIVIDE_BY_ZERO, and both
# rankings put NULL sims last.
SIMILARITY_TOPK = f"""
WITH anchors AS (
  SELECT e.label, e.vec_id AS anchor_id, e.embedding AS anchor_vec
  FROM {{embeddings}} e
  JOIN (SELECT label, min(vec_id) AS anchor_id FROM {{embeddings}} GROUP BY label) a
    ON e.vec_id = a.anchor_id
), scored AS (
  SELECT e.label, e.vec_id, a.anchor_id,
         try_divide({_dot("e.embedding", "a.anchor_vec")},
                    sqrt({_dot("e.embedding", "e.embedding")})
                      * sqrt({_dot("a.anchor_vec", "a.anchor_vec")})) AS sim
  FROM {{embeddings}} e JOIN anchors a ON e.label = a.label
  WHERE e.vec_id <> a.anchor_id
)
SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, anchor_id, sim
FROM (SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""

SIMILARITY_TOPK_ORACLE = """
WITH anchors AS (
  SELECT e.label, e.vec_id AS anchor_id, e.embedding AS anchor_vec
  FROM embeddings e
  JOIN (SELECT label, min(vec_id) AS anchor_id FROM embeddings GROUP BY label) a
    ON e.vec_id = a.anchor_id
), scored AS (
  SELECT e.label, e.vec_id, a.anchor_id,
         list_dot_product(e.embedding::DOUBLE[], a.anchor_vec::DOUBLE[])
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(a.anchor_vec::DOUBLE[], a.anchor_vec::DOUBLE[]))) AS sim
  FROM embeddings e JOIN anchors a ON e.label = a.label
  WHERE e.vec_id <> a.anchor_id
)
SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, anchor_id, sim
FROM (SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


# Multimodal alignment: join documents to embeddings on id; per (lang, label)
# coverage stats.
MULTIMODAL_ALIGN = """
SELECT lang, label, count(1) AS n, min(doc_id) AS min_doc_id,
       CAST(sum(n_chars) AS DOUBLE) / CAST(count(1) AS DOUBLE) AS avg_chars
FROM {documents} JOIN {embeddings} ON doc_id = vec_id
GROUP BY lang, label
"""

MULTIMODAL_ALIGN_ORACLE = """
SELECT lang, label, count(*) AS n, min(doc_id) AS min_doc_id,
       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
FROM documents JOIN embeddings ON doc_id = vec_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Query] = {
    "pricing_summary": Query(PRICING_SUMMARY, PRICING_SUMMARY_ORACLE),
    "top_customers_per_nation": Query(TOP_CUSTOMERS, TOP_CUSTOMERS_ORACLE),
    "part_type_revenue": Query(PART_TYPE_REVENUE, PART_TYPE_REVENUE_ORACLE),
    "resample_grid": Query(RESAMPLE_GRID, RESAMPLE_GRID_ORACLE),
    "gap_stats": Query(GAP_STATS, GAP_STATS_ORACLE),
    "sessionize": Query(SESSIONIZE, SESSIONIZE_ORACLE),
    "behavior_classify": Query(BEHAVIOR_CLASSIFY, BEHAVIOR_CLASSIFY_ORACLE),
    "dominant_behavior": Query(DOMINANT_BEHAVIOR, DOMINANT_BEHAVIOR_ORACLE),
    "window_features": Query(WINDOW_FEATURES, WINDOW_FEATURES_ORACLE),
    "zscore_normalize": Query(ZSCORE, ZSCORE_ORACLE),
    "anomaly_users": Query(ANOMALY_USERS, ANOMALY_USERS_ORACLE),
    "reliability_bins": Query(RELIABILITY_BINS, RELIABILITY_BINS_ORACLE),
    "mae_eval": Query(MAE_EVAL, MAE_EVAL_ORACLE),
    "dedup_docs": Query(DEDUP_DOCS, DEDUP_DOCS_ORACLE),
    "doc_token_stats": Query(DOC_TOKEN_STATS, DOC_TOKEN_STATS_ORACLE),
    "similarity_topk": Query(SIMILARITY_TOPK, SIMILARITY_TOPK_ORACLE),
    "multimodal_align": Query(MULTIMODAL_ALIGN, MULTIMODAL_ALIGN_ORACLE),
}
