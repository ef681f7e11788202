"""Declared queries and their DuckDB oracle SQL.

Numerical discipline (so the DuckDB oracle value-hash matches bit-for-bit):

* All 2-decimal monetary/metric doubles (`l_extendedprice`, `l_discount`,
  `l_tax`, `o_totalprice`, `value`, `p_retailprice`, ...) are converted to
  exact integer cents (`CAST(round(x*100, 0) AS BIGINT)`) before any
  aggregation.  Integer sums are exact and order-independent, so Spark's
  nondeterministic partial-aggregation order cannot flip a bit.
* Doubles only re-appear through deterministic IEEE-754 ops (cast of the
  same exact integer, division, sqrt, abs, comparisons) applied in an
  expression tree mirrored exactly between the Spark plan and the oracle
  SQL.
* Timestamps are exported as epoch seconds / microseconds (BIGINT) or
  `yyyy-MM-dd` strings, never raw timestamps.
* Every `row_number` ordering carries a unique tiebreak column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from engine.tables import load


def _cents(col: str):
    """Exact integer cents for a 2-decimal double column."""
    return F.round(F.col(col) * 100, 0).cast("long")


def _epoch_us(col: str):
    """BIGINT microseconds since epoch for an NTZ column; timezone-free."""
    return F.expr(f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})")


def _epoch_s_trunc_hour(col: str):
    """BIGINT epoch seconds of the hour bucket for an NTZ column; tz-free."""
    return F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', date_trunc('hour', {col}))"
    )


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL over pre-registered views


# ---------------------------------------------------------------------------
# OLAP core
# ---------------------------------------------------------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: per (returnflag, linestatus) pricing summary."""
    li = load(spark, sf_dir, "lineitem",
              ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
               "l_discount", "l_tax", "l_shipdate"])
    li = li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp_ntz"))
    li = li.select(
        "l_returnflag", "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        _cents("l_extendedprice").alias("price_c"),
        _cents("l_discount").alias("disc_c"),
        _cents("l_tax").alias("tax_c"),
    )
    # The disc/charge products are ~1e9/~1e11 per row, so a BIGINT sum wraps
    # past ~1e8-1e10 rows per group (TPC-H Q1 has 4 groups; the 100 TB design
    # point is ~1e11 rows/group).  Sum them as decimal(38,0): exact integer
    # arithmetic (int128-backed), order-independent, still partial-aggregated
    # map-side, and it mirrors DuckDB's HUGEINT sum.  The final cast of the
    # same exact integer to double is bit-identical to the long path.
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        F.sum("price_c").alias("sum_price_c"),
        F.sum((F.col("price_c") * (100 - F.col("disc_c"))).cast("decimal(38,0)")).alias("sum_disc_u"),
        F.sum((F.col("price_c") * (100 - F.col("disc_c")) * (100 + F.col("tax_c"))).cast("decimal(38,0)")).alias("sum_charge_u"),
        F.sum("disc_c").alias("sum_disc_c"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag", "l_linestatus", "sum_qty",
        (F.col("sum_price_c").cast("double") / F.lit(100.0)).alias("sum_base_price"),
        (F.col("sum_disc_u").cast("double") / F.lit(10000.0)).alias("sum_disc_price"),
        (F.col("sum_charge_u").cast("double") / F.lit(1000000.0)).alias("sum_charge"),
        (F.col("sum_qty").cast("double") / F.col("count_order").cast("double")).alias("avg_qty"),
        (F.col("sum_price_c").cast("double") / F.col("count_order").cast("double") / F.lit(100.0)).alias("avg_price"),
        (F.col("sum_disc_c").cast("double") / F.col("count_order").cast("double") / F.lit(100.0)).alias("avg_disc"),
        "count_order",
    )


PRICING_SUMMARY_SQL = """
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


def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by lineitem revenue within each nation."""
    li = load(spark, sf_dir, "lineitem", ["l_orderkey", "l_extendedprice", "l_discount"])
    li = li.select(
        "l_orderkey",
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_u"),
    )
    orders = load(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    cust = load(spark, sf_dir, "customer", ["c_custkey", "c_name", "c_nationkey"])
    nation = load(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    # Aggregate before joining (guide 2.3): per-orderkey partial sums make the
    # orderkey shuffle carry one row per order instead of one per line, and the
    # custkey aggregation runs on order-grain rows before customer is attached.
    per_order = li.groupBy("l_orderkey").agg(F.sum("rev_u").alias("rev_u"))
    rev = (per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
                    .groupBy("o_custkey")
                    .agg(F.sum("rev_u").alias("rev_u")))
    rev = rev.join(cust, rev.o_custkey == cust.c_custkey)
    rev = rev.join(F.broadcast(nation), rev.c_nationkey == nation.n_nationkey)
    w = W.partitionBy("n_name").orderBy(F.col("rev_u").desc(), F.col("c_custkey").asc())
    return (rev.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= 3)
               .select("n_name", "rank", "c_custkey", "c_name",
                       (F.col("rev_u").cast("double") / F.lit(10000.0)).alias("revenue")))


TOP_CUSTOMERS_SQL = """
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


def part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue and volume per part type."""
    li = load(spark, sf_dir, "lineitem", ["l_partkey", "l_quantity", "l_extendedprice", "l_discount"])
    li = li.select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("rev_u"),
    )
    part = load(spark, sf_dir, "part", ["p_partkey", "p_type", "p_retailprice"])
    part = part.select("p_partkey", "p_type", _cents("p_retailprice").alias("retail_c"))
    # Aggregate lineitem per partkey before the join (guide 2.3/3): the join
    # then runs at part grain; retailprice is weighted by the line count so the
    # result is identical to joining at line grain.
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("qty").alias("sum_qty"),
        F.sum("rev_u").alias("rev_u"),
    )
    j = per_part.join(part, per_part.l_partkey == part.p_partkey)
    # Per-part rev_u stays BIGINT (bounded by lines-per-part), but the per-type
    # total is ~4e18 at the 100 TB design point -- borderline int64 -- so the
    # second-level sum is decimal(38,0) (exact, mirrors DuckDB HUGEINT).
    g = j.groupBy("p_type").agg(
        F.sum("n_lines").alias("n_lines"),
        F.sum("sum_qty").alias("sum_qty"),
        F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("rev_u"),
        F.sum(F.col("retail_c") * F.col("n_lines")).alias("retail_c_sum"),
    )
    return g.select(
        "p_type", "n_lines", "sum_qty",
        (F.col("rev_u").cast("double") / F.lit(10000.0)).alias("revenue"),
        (F.col("retail_c_sum").cast("double") / F.col("n_lines").cast("double") / F.lit(100.0)).alias("avg_retail"),
    )


PART_TYPE_REVENUE_SQL = """
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


def _events_cents(spark: SparkSession, sf_dir: str, extra: list[str] | None = None) -> DataFrame:
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    ev = load(spark, sf_dir, "events", cols)
    return ev.select(
        "event_id", "ts", "user_id", "event_type",
        _cents("value").alias("value_c"),
        *(extra or []),
    )


def resample_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-rate normalization analog: hourly grid per user with exact stats."""
    ev = _events_cents(spark, sf_dir)
    ev = ev.withColumn("bucket_s", _epoch_s_trunc_hour("ts"))
    g = ev.groupBy("user_id", "bucket_s").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").alias("sum_c"),
        F.min("value_c").alias("min_c"),
        F.max("value_c").alias("max_c"),
    )
    return g.select(
        "user_id", "bucket_s", "n",
        (F.col("sum_c").cast("double") / F.col("n").cast("double") / F.lit(100.0)).alias("avg_value"),
        (F.col("min_c").cast("double") / F.lit(100.0)).alias("min_value"),
        (F.col("max_c").cast("double") / F.lit(100.0)).alias("max_value"),
    )


RESAMPLE_GRID_SQL = """
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


def gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolation-feasibility analog: inter-event gaps per user; gaps above
    the max-interpolation threshold (1h) counted as voids."""
    ev = load(spark, sf_dir, "events", ["event_id", "ts", "user_id"])
    ev = ev.select("event_id", "user_id", _epoch_us("ts").alias("t_us"))
    w = W.partitionBy("user_id").orderBy(F.col("t_us").asc(), F.col("event_id").asc())
    g = ev.withColumn("gap_us", F.col("t_us") - F.lag("t_us", 1).over(w)).filter(F.col("gap_us").isNotNull())
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_us").alias("sum_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum(F.when(F.col("gap_us") > 3600 * 1000000, 1).otherwise(0).cast("long")).alias("n_void"),
    )
    return agg.select(
        "user_id", "n_gaps", "max_gap_us", "n_void",
        (F.col("sum_gap_us").cast("double") / F.col("n_gaps").cast("double") / F.lit(1000000.0)).alias("avg_gap_s"),
    )


GAP_STATS_SQL = """
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


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap starts a new session; per-user
    session count / size / duration stats."""
    ev = load(spark, sf_dir, "events", ["event_id", "ts", "user_id"])
    ev = ev.select("event_id", "user_id", _epoch_us("ts").alias("t_us"))
    w = W.partitionBy("user_id").orderBy(F.col("t_us").asc(), F.col("event_id").asc())
    gap = F.col("t_us") - F.lag("t_us", 1).over(w)
    ev = ev.withColumn("new_s", F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0).cast("long"))
    ev = ev.withColumn("sess", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)))
    per_sess = ev.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("t_us") - F.min("t_us")).alias("dur_us"),
    )
    agg = per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
        F.sum("dur_us").alias("sum_dur_us"),
        F.max("dur_us").alias("max_dur_us"),
    )
    return agg.select(
        "user_id", "n_sessions", "total_events",
        (F.col("sum_dur_us").cast("double") / F.col("n_sessions").cast("double") / F.lit(1000000.0)).alias("avg_session_s"),
        (F.col("max_dur_us").cast("double") / F.lit(1000000.0)).alias("max_session_s"),
    )


SESSIONIZE_SQL = """
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


def behavior_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based behavior classification (reference cf_* analog): each event is
    classified by intensity; per (day, event_type, behavior) confidence stats."""
    ev = _events_cents(spark, sf_dir)
    # Group on a 1-byte behavior code and decode to the label string only on
    # the few grouped output rows (guide 2.3 narrower shuffle key; the CASE
    # mapping is injective so the groups are identical).
    behavior_code = (F.when(F.col("value_c") >= 20000, F.lit(2))
                      .when(F.col("value_c") >= 5000, F.lit(1))
                      .otherwise(F.lit(0))).cast("tinyint")
    behavior = (F.when(F.col("behavior_c") == 2, F.lit("surge"))
                 .when(F.col("behavior_c") == 1, F.lit("active"))
                 .otherwise(F.lit("idle")))
    # confidence in basis points: clipped linear ramp of intensity, exact ints
    conf_bp = F.least(F.col("value_c"), F.lit(50000)).cast("long")
    # Group on the 4-byte DATE and format only the few output rows: avoids a
    # per-row date_format and narrows the shuffle key (guide 1.2 step 2 / 2.3).
    ev = ev.select(
        F.to_date("ts").alias("day_d"),
        "event_type",
        behavior_code.alias("behavior_c"),
        conf_bp.alias("conf_bp"),
        "value_c",
    )
    g = ev.groupBy("day_d", "event_type", "behavior_c").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conf_bp").alias("sum_conf_bp"),
        F.sum("value_c").alias("sum_value_c"),
    )
    return g.select(
        F.date_format("day_d", "yyyy-MM-dd").alias("day"),
        "event_type", behavior.alias("behavior"), "n",
        (F.col("sum_conf_bp").cast("double") / F.col("n").cast("double") / F.lit(50000.0)).alias("avg_conf"),
        (F.col("sum_value_c").cast("double") / F.col("n").cast("double") / F.lit(100.0)).alias("avg_value"),
    )


BEHAVIOR_CLASSIFY_SQL = """
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


def dominant_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exclusivity-rule analog: per (user, day) keep only the dominant event
    type by total intensity (deterministic argmax with tiebreak)."""
    ev = _events_cents(spark, sf_dir)
    # Group on the 4-byte DATE and format only the output rows (guide 2.3).
    ev = ev.select(F.to_date("ts").alias("day_d"), "user_id", "event_type", "value_c")
    g = ev.groupBy("user_id", "day_d", "event_type").agg(
        F.sum("value_c").alias("sum_c"),
        F.count(F.lit(1)).alias("n"),
    )
    # One scan + one aggregation; the per-(user, day) totals come from window
    # aggregates over the already-established clustering instead of a second
    # aggregation joined back (guide 2.4: share the exchange, avoid the join).
    wq = W.partitionBy("user_id", "day_d")
    w = wq.orderBy(F.col("sum_c").desc(), F.col("event_type").asc())
    wall = wq.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = (g.withColumn("rn", F.row_number().over(w))
                .withColumn("tot_c", F.sum("sum_c").over(wall))
                .withColumn("n_types", F.count(F.lit(1)).over(wall)))
    j = ranked.filter(F.col("rn") == 1)
    return j.select(
        "user_id", F.date_format("day_d", "yyyy-MM-dd").alias("day"),
        F.col("event_type").alias("dominant_type"),
        "n_types",
        (F.col("sum_c").cast("double") / F.lit(100.0)).alias("dominant_value"),
        (F.col("tot_c").cast("double") / F.lit(100.0)).alias("total_value"),
    )


DOMINANT_BEHAVIOR_SQL = """
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
FROM ranked r JOIN tot t ON r.user_id = t.user_id AND r.day = t.day
WHERE r.rn = 1
"""


def window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window feature extraction analog (3-sample rolling stats per
    user, ordered by time)."""
    ev = _events_cents(spark, sf_dir)
    w = (W.partitionBy("user_id")
          .orderBy(F.col("ts").asc(), F.col("event_id").asc())
          .rowsBetween(-2, 0))
    out = ev.select(
        "event_id", "user_id",
        F.sum("value_c").over(w).alias("roll_sum_c"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
        F.max("value_c").over(w).alias("roll_max_c"),
    )
    return out.select(
        "event_id", "user_id", "roll_n",
        (F.col("roll_sum_c").cast("double") / F.col("roll_n").cast("double") / F.lit(100.0)).alias("roll_avg"),
        (F.col("roll_max_c").cast("double") / F.lit(100.0)).alias("roll_max"),
    )


WINDOW_FEATURES_SQL = """
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


def _type_stats(ev: DataFrame) -> DataFrame:
    """Exact per-event-type sufficient statistics -> (mu, sigma) doubles."""
    # value_c^2 is ~2.5e9 per row, so a BIGINT sum wraps past ~3.7e9 rows per
    # event type (the 100 TB design point is ~1e11-1e12 rows/type): sum the
    # squares as decimal(38,0) (exact int128, mirrors DuckDB's HUGEINT sum;
    # the double cast of the same exact integer is bit-identical).  sum_c
    # itself stays BIGINT: |value_c| <= ~5e4 keeps it exact to ~2e14 rows/type.
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").alias("sum_c"),
        F.sum((F.col("value_c") * F.col("value_c")).cast("decimal(38,0)")).alias("sumsq_c"),
    )
    mean_c = F.col("sum_c").cast("double") / F.col("n").cast("double")
    var_c = (F.col("sumsq_c").cast("double") / F.col("n").cast("double")) - (
        (F.col("sum_c").cast("double") / F.col("n").cast("double"))
        * (F.col("sum_c").cast("double") / F.col("n").cast("double"))
    )
    return g.select(
        "event_type",
        F.col("n").alias("n_type"),
        (mean_c / F.lit(100.0)).alias("mu"),
        (F.sqrt(var_c) / F.lit(100.0)).alias("sigma"),
        "sum_c",
    )


_TYPE_STATS_SQL = """
  SELECT event_type, count(*) AS n_type,
         CAST(sum(value_c) AS BIGINT) AS sum_c,
         sum(value_c*value_c) AS sumsq_c,
         CAST(sum(value_c) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0 AS mu,
         sqrt(CAST(sum(value_c*value_c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
              - (CAST(sum(value_c) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                * (CAST(sum(value_c) AS DOUBLE) / CAST(count(*) AS DOUBLE))) / 100.0 AS sigma
  FROM c GROUP BY event_type
"""


def zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature normalization analog: per-event z-score against per-type stats."""
    ev = _events_cents(spark, sf_dir)
    # The stats side is <= |event_type| rows by construction: broadcast it
    # explicitly so the events side is never shuffled at any scale (guide 3.1).
    stats = _type_stats(ev).select("event_type", "mu", "sigma")
    j = ev.join(F.broadcast(stats), "event_type")
    z = (F.col("value_c").cast("double") / F.lit(100.0) - F.col("mu")) / F.col("sigma")
    return j.select("event_id", "event_type", z.alias("z"))


ZSCORE_SQL = f"""
WITH c AS (
  SELECT event_id, event_type, CAST(round(value*100,0) AS BIGINT) AS value_c
  FROM events
), stats AS ({_TYPE_STATS_SQL})
SELECT c.event_id, c.event_type,
       (CAST(c.value_c AS DOUBLE) / 100.0 - s.mu) / s.sigma AS z
FROM c JOIN stats s ON c.event_type = s.event_type
"""


def anomaly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly-score analog: per user, rate of events with |z| > 2.5 and the
    worst deviation."""
    ev = _events_cents(spark, sf_dir)
    stats = _type_stats(ev).select("event_type", "mu", "sigma")
    j = ev.join(F.broadcast(stats), "event_type")
    z = (F.col("value_c").cast("double") / F.lit(100.0) - F.col("mu")) / F.col("sigma")
    j = j.select("user_id", F.abs(z).alias("abs_z"))
    agg = j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("abs_z") > 2.5, 1).otherwise(0).cast("long")).alias("n_anom"),
        F.max("abs_z").alias("max_abs_z"),
    )
    return agg.select(
        "user_id", "n", "n_anom",
        (F.col("n_anom").cast("double") / F.col("n").cast("double")).alias("anom_rate"),
        "max_abs_z",
    )


ANOMALY_USERS_SQL = f"""
WITH c AS (
  SELECT user_id, event_type, CAST(round(value*100,0) AS BIGINT) AS value_c
  FROM events
), stats AS ({_TYPE_STATS_SQL})
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


def reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram analog: decile bins of value relative to the
    per-type max; per (type, bin) count and mean."""
    ev = _events_cents(spark, sf_dir)
    mx = ev.groupBy("event_type").agg(F.max("value_c").alias("max_c"))
    j = ev.join(F.broadcast(mx), "event_type")
    bin_ = F.least(
        F.floor(F.col("value_c").cast("double") * F.lit(10.0) / F.col("max_c").cast("double")),
        F.lit(9),
    ).cast("long")
    j = j.select("event_type", bin_.alias("bin"), "value_c")
    g = j.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").alias("sum_c"),
    )
    return g.select(
        "event_type", "bin", "n",
        (F.col("sum_c").cast("double") / F.col("n").cast("double") / F.lit(100.0)).alias("avg_value"),
    )


RELIABILITY_BINS_SQL = """
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


def mae_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE-evaluation analog: per event type, mean absolute deviation of values
    from the type mean, computed in exact integer arithmetic."""
    ev = _events_cents(spark, sf_dir)
    stats = _type_stats(ev).select("event_type", "n_type", "sum_c")
    j = ev.join(F.broadcast(stats), "event_type")
    # Each absdev term is ~value_c*n_type (~5e15 at 1e11 rows/type, still a
    # valid BIGINT), but their per-type sum grows ~n^2 and wraps int64 past
    # ~sf200 (ADVICE): accumulate as decimal(38,0), which is exact to ~1e38
    # and mirrors DuckDB's HUGEINT sum of BIGINT absdev.
    absdev = F.abs(F.col("value_c") * F.col("n_type") - F.col("sum_c"))
    g = j.groupBy("event_type").agg(
        F.max("n_type").alias("n"),
        F.max("sum_c").alias("sum_c"),
        F.sum(absdev.cast("decimal(38,0)")).alias("sum_absdev"),
    )
    return g.select(
        "event_type", "n",
        (F.col("sum_c").cast("double") / F.col("n").cast("double") / F.lit(100.0)).alias("mean_value"),
        (F.col("sum_absdev").cast("double") / F.col("n").cast("double") / F.col("n").cast("double") / F.lit(100.0)).alias("mae"),
    )


MAE_EVAL_SQL = """
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


def dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection: fingerprint = md5 of the sorted first 8
    tokens of the normalized text; keep the smallest doc_id per cluster."""
    docs = load(spark, sf_dir, "documents", ["doc_id", "text", "n_chars"])
    # Only the first 8 tokens matter, so extract just that prefix (the anchored
    # greedy regex stops scanning after the 8th token) instead of normalizing,
    # splitting and materializing a token array for the whole document
    # (guide 1.2 step 2: per-task work; same fingerprint, O(prefix) not O(doc)).
    # lower() runs on the extracted prefix, not the whole document: case
    # mapping never produces or consumes whitespace, so token boundaries --
    # and hence the extracted prefix -- are identical either way (including
    # conditional mappings: a final sigma stays word-final at the prefix end
    # because the regex never cuts mid-token).  Measured 1.45x on 2.7 KB docs
    # (tools/exp_text_exprs.py); see test_lower_prefix_commutes.
    prefix = F.lower(F.regexp_extract(F.col("text"), r"^\s*(?:\S+\s+){0,7}\S*", 0))
    toks = F.filter(F.split(prefix, r"\s+"), lambda x: x != F.lit(""))
    fp = F.md5(F.array_join(F.sort_array(toks), " "))
    # Shuffle the 16-byte binary digest, not the 32-char hex string, and
    # re-hex only the grouped output rows (guide 2.3 "narrower types" --
    # the group key is most of each shuffled row here).  lower(hex(unhex(h)))
    # is the identity on md5's lowercase-hex output, so the emitted
    # fingerprint is byte-identical (see test_fingerprint_hex_roundtrip).
    d = docs.select("doc_id", F.unhex(fp).alias("fp_bin"), F.col("n_chars"))
    g = d.groupBy("fp_bin").agg(
        F.min("doc_id").alias("survivor_id"),
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("n_chars").alias("total_chars"),
    )
    return g.select(
        F.lower(F.hex("fp_bin")).alias("fingerprint"),
        "survivor_id", "cluster_size", "total_chars",
    )


DEDUP_DOCS_SQL = """
WITH d AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_slice(
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
             1, 8)), ' ')) AS fingerprint,
         n_chars
  FROM documents
)
SELECT fingerprint, min(doc_id) AS survivor_id, count(*) AS cluster_size,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM d GROUP BY fingerprint
"""


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-pipeline stats: per (lang, source) token and char counts."""
    docs = load(spark, sf_dir, "documents", ["doc_id", "text", "lang", "source", "n_chars"])
    # size(split(text, ' ')) == #spaces + 1; count spaces with a char scan
    # instead of materializing a token array per document (guide 1.2 step 2).
    toks = (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1).cast("long")
    d = docs.select("lang", "source", toks.alias("n_tokens"), "n_chars")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.max("n_tokens").alias("max_tokens"),
    )
    return g.select(
        "lang", "source", "n_docs", "total_tokens", "total_chars", "max_tokens",
        (F.col("total_chars").cast("double") / F.col("n_docs").cast("double")).alias("avg_chars"),
    )


DOC_TOKEN_STATS_SQL = """
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


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector similarity search: top-5 nearest embeddings (cosine) to each
    label's anchor vector (the lowest vec_id of that label)."""
    emb = load(spark, sf_dir, "embeddings", ["vec_id", "embedding", "label"])

    def dot(a, b):
        prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
        return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)

    # Anchor selection is a two-step hash path (r10): (1) min(vec_id) per
    # label over the parquet-pruned narrow (vec_id, label) columns -- a pure
    # HashAggregate -- then (2) fetch the anchor rows by broadcast-probing the
    # table on vec_id == anchor_id.  The r09 one-step min/min_by aggregation
    # kept a var-length array in the aggregation buffer, which forces
    # SortAggregate: every task fully sorts its slice of the table by label
    # (O(n log n) on ~270-byte rows, spill-prone at scale).  The hash path
    # never sorts and never holds big rows in an aggregation buffer; the
    # extra scan reads only the two narrow columns (guide 2.3 "shuffle keys
    # and metadata instead of payloads", 1.2 step 1).  vec_id is unique, so
    # the fetch returns exactly the min_by row per label.
    # Cardinality bound for the broadcasts: anchor_ids / anchors have exactly
    # one row per distinct `label`, and label is a small enum in this schema
    # (tens of values; ~1.7 KB per anchor row with the 64-double vector).
    # The hints are safe up to ~10^5-10^6 labels; a high-cardinality label
    # column would need the broadcasts dropped in favor of shuffled joins.
    anchor_ids = (emb.select("vec_id", "label")
                     .groupBy("label").agg(F.min("vec_id").alias("anchor_id")))
    anchors = (emb.join(F.broadcast(anchor_ids.select("anchor_id")),
                        emb.vec_id == F.col("anchor_id"))
                  .select("label", "anchor_id", F.col("embedding").alias("anchor_vec")))
    anchors = anchors.select(
        "label", "anchor_id", "anchor_vec",
        F.sqrt(dot(F.col("anchor_vec"), F.col("anchor_vec"))).alias("anchor_norm"),
    )
    j = emb.join(F.broadcast(anchors), "label")
    j = j.filter(F.col("vec_id") != F.col("anchor_id"))
    sim = dot(F.col("embedding"), F.col("anchor_vec")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * F.col("anchor_norm")
    )
    scored = j.select("label", "vec_id", "anchor_id", sim.alias("sim"))
    w = W.partitionBy("label").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= 5)
                  .select("label", F.col("rank").cast("long").alias("rank"),
                          "vec_id", "anchor_id", "sim"))


SIMILARITY_TOPK_SQL = """
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
FROM (SELECT *, row_number() OVER (PARTITION BY label ORDER BY sim DESC, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


def multimodal_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal alignment: join documents to embeddings on id; per
    (lang, label) coverage stats."""
    docs = load(spark, sf_dir, "documents", ["doc_id", "lang", "n_chars"])
    emb = load(spark, sf_dir, "embeddings", ["vec_id", "label"])
    j = docs.join(emb, docs.doc_id == emb.vec_id)
    g = j.groupBy("lang", "label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )
    return g.select(
        "lang", "label", "n", "min_doc_id",
        (F.col("total_chars").cast("double") / F.col("n").cast("double")).alias("avg_chars"),
    )


MULTIMODAL_ALIGN_SQL = """
SELECT lang, label, count(*) AS n, min(doc_id) AS min_doc_id,
       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
FROM documents JOIN embeddings ON doc_id = vec_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Query] = {
    "pricing_summary": Query(pricing_summary, PRICING_SUMMARY_SQL),
    "top_customers_per_nation": Query(top_customers_per_nation, TOP_CUSTOMERS_SQL),
    "part_type_revenue": Query(part_type_revenue, PART_TYPE_REVENUE_SQL),
    "resample_grid": Query(resample_grid, RESAMPLE_GRID_SQL),
    "gap_stats": Query(gap_stats, GAP_STATS_SQL),
    "sessionize": Query(sessionize, SESSIONIZE_SQL),
    "behavior_classify": Query(behavior_classify, BEHAVIOR_CLASSIFY_SQL),
    "dominant_behavior": Query(dominant_behavior, DOMINANT_BEHAVIOR_SQL),
    "window_features": Query(window_features, WINDOW_FEATURES_SQL),
    "zscore_normalize": Query(zscore_normalize, ZSCORE_SQL),
    "anomaly_users": Query(anomaly_users, ANOMALY_USERS_SQL),
    "reliability_bins": Query(reliability_bins, RELIABILITY_BINS_SQL),
    "mae_eval": Query(mae_eval, MAE_EVAL_SQL),
    "dedup_docs": Query(dedup_docs, DEDUP_DOCS_SQL),
    "doc_token_stats": Query(doc_token_stats, DOC_TOKEN_STATS_SQL),
    "similarity_topk": Query(similarity_topk, SIMILARITY_TOPK_SQL),
    "multimodal_align": Query(multimodal_align, MULTIMODAL_ALIGN_SQL),
}
