"""Decimal(38,0) accumulators: the r10 sums that replaced BIGINT sums.

No adversarial table row can reach a sum past int64, so these two tests
check the accumulator in Spark directly: it stays exact where a BIGINT sum
wraps, and its double cast is bit-identical to the BIGINT path's below
int64.  Every other rewritten expression is checked through the shipped SQL
by the ADVERSARIAL dataset of tests/test_queries.py.
"""

from pyspark.sql import functions as F


def test_decimal_sum_exact_past_int64(spark):
    """The r10 decimal(38,0) accumulators must stay exact where a BIGINT sum
    silently wraps (the 100 TB overflow class from VERDICT r09)."""
    vals = [9_000_000_000_000_000_000, 9_000_000_000_000_000_000,
            8_999_999_999_999_999_999, 7]                      # sum = 2.7e19 > int64 max
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = df.agg(F.sum(F.col("v").cast("decimal(38,0)")).cast("double").alias("s")).collect()[0].s
    assert got.hex() == float(sum(vals)).hex()
    # and the BIGINT-sum path really cannot produce this result, i.e. the fix
    # is load-bearing: under ANSI (Spark 4 default) the long sum raises
    # ARITHMETIC_OVERFLOW (the job dies at scale); under non-ANSI it wraps.
    try:
        wrapped = df.agg(F.sum("v").cast("double").alias("s")).collect()[0].s
    except Exception:
        wrapped = None
    assert wrapped != got


def test_decimal_sum_double_cast_bit_identity(spark):
    """For in-int64-range sums, cast(decimal_sum as double) must be
    bit-identical to cast(long_sum as double) -- this is what keeps the
    oracle value-hash unchanged.  Exercises sums above 2^53 where the
    integer->double rounding actually matters."""
    cases = [
        [1, 2, 3],
        [(1 << 53) + 1],                      # not exactly representable
        [(1 << 53) - 1, 2],                   # sum = 2^53 + 1
        [6_500_000_000_000_000_123, 1_234_567_890_123],
        [9_007_199_254_740_993, 9_007_199_254_740_995, 7],
        [-(1 << 53) - 3, -12345, 1],
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        row = df.agg(
            F.sum(F.col("v").cast("decimal(38,0)")).cast("double").alias("dec"),
            F.sum("v").cast("double").alias("lng"),
        ).collect()[0]
        assert row.dec.hex() == row.lng.hex(), f"bit mismatch for {vals}"
