"""Equivalence tests for r09/r10-optimized operator internals.

Each optimized expression is compared in-Spark against the straightforward
round-8 formulation it replaced, on adversarial edge cases the sf testdata
may not cover (empty/whitespace-only text, token counts around the 8-token
fingerprint window, runs of mixed whitespace, very long tokens).
"""

import pytest
from pyspark.sql import functions as F

EDGE_TEXTS = [
    "",
    " ",
    "   \t\n  ",
    "a",
    " a ",
    "a b",
    "one two three four five six seven",           # 7 tokens
    "one two three four five six seven eight",     # exactly 8
    "one two three four five six seven eight nine ten",  # > 8
    "a  b\tc\nd   e f\r\ng h i j",                 # mixed whitespace runs
    "  leading and   trailing   ",
    "UPPER Case MiXeD tokens HERE now More Than Eight Total",
    "x" * 3000,                                    # one huge token
    ("tok " * 500).strip(),                        # many short tokens
    "ends with whitespace then token   z",
]


@pytest.fixture(scope="module")
def texts_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(EDGE_TEXTS)], "id long, text string")


def test_dedup_fingerprint_prefix_equivalence(texts_df):
    """regexp_extract of the 8-token prefix must yield the exact fingerprint
    of the full normalize+split+slice chain it replaced."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    old_fp = F.md5(F.array_join(F.sort_array(F.slice(F.split(norm, " "), 1, 8)), " "))

    prefix = F.regexp_extract(F.lower(F.col("text")), r"^\s*(?:\S+\s+){0,7}\S*", 0)
    new_fp = F.md5(F.array_join(F.sort_array(
        F.filter(F.split(prefix, r"\s+"), lambda x: x != F.lit(""))), " "))

    rows = texts_df.select("id", old_fp.alias("old"), new_fp.alias("new")).collect()
    for r in rows:
        assert r.old == r.new, f"fingerprint diverged for text #{r.id}: {EDGE_TEXTS[r.id]!r}"


def test_lower_prefix_commutes(spark):
    """lower(regexp_extract(text, RX)) must equal regexp_extract(lower(text),
    RX): case mapping never produces or consumes whitespace, so the 8-token
    prefix region is the same either way.  Exercises the conditional Unicode
    mappings where lower() is context-sensitive or length-changing (Greek
    final sigma at token/string end, Turkish dotted capital I which lowers to
    two code points, sharp s) on top of the whitespace edge cases."""
    rx = r"^\s*(?:\S+\s+){0,7}\S*"
    unicode_texts = [
        "ΒΙΒΛΟΣ one two three four five six seven eight",   # Σ ends token 1
        "one two three four five six seven ΒΙΒΛΟΣ nine",   # Σ ends token 8 (prefix end)
        "one two three four five six seven eight ΒΙΒΛΟΣ",  # Σ beyond the prefix
        "ΣΟΦΙΑ mid-token Σ stays non-final ΑΣΦ",
        "İstanbul İİ ends İ",                               # U+0130 -> 2 code points
        "STRASSE straße ẞ groß",                            # sharp s forms
        "ΑΣ",                                               # final sigma at string end
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS + unicode_texts)], "id long, text string")
    old = F.regexp_extract(F.lower(F.col("text")), rx, 0)
    new = F.lower(F.regexp_extract(F.col("text"), rx, 0))
    for r in df.select("id", old.alias("old"), new.alias("new")).collect():
        assert r.old == r.new, f"prefix diverged for text #{r.id}: {r.old!r} != {r.new!r}"


def test_token_count_space_arith_equivalence(texts_df):
    """length-difference token count must equal size(split(text, ' '))
    including empty tokens from repeated/leading/trailing spaces."""
    old_n = F.size(F.split(F.col("text"), " ")).cast("long")
    new_n = (F.length("text")
             - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1).cast("long")
    rows = texts_df.select("id", old_n.alias("old"), new_n.alias("new")).collect()
    for r in rows:
        assert r.old == r.new, f"token count diverged for text #{r.id}: {EDGE_TEXTS[r.id]!r}"


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


def test_fingerprint_hex_roundtrip(texts_df):
    """The r10 binary-digest shuffle key must re-hex to exactly the md5 hex
    string the query used to group on: lower(hex(unhex(h))) == h for md5
    output (lowercase hex, fixed 32 chars)."""
    fp = F.md5(F.col("text"))
    rows = texts_df.select(
        "id", fp.alias("old"),
        F.lower(F.hex(F.unhex(fp))).alias("new"),
    ).collect()
    for r in rows:
        assert r.old == r.new, f"hex roundtrip diverged for text #{r.id}"


def test_behavior_code_equivalence(spark):
    """The r10 1-byte behavior code must induce exactly the same groups and
    decode to exactly the same label as the direct CASE on value_c, across
    the threshold boundaries."""
    vals = [-100, 0, 1, 4999, 5000, 5001, 19999, 20000, 20001, 50000, 10**9]
    df = spark.createDataFrame([(v,) for v in vals], "value_c long")
    label = (F.when(F.col("value_c") >= 20000, F.lit("surge"))
              .when(F.col("value_c") >= 5000, F.lit("active"))
              .otherwise(F.lit("idle")))
    code = (F.when(F.col("value_c") >= 20000, F.lit(2))
             .when(F.col("value_c") >= 5000, F.lit(1))
             .otherwise(F.lit(0))).cast("tinyint")
    decoded = (F.when(F.col("c") == 2, F.lit("surge"))
                .when(F.col("c") == 1, F.lit("active"))
                .otherwise(F.lit("idle")))
    rows = (df.select("value_c", label.alias("old"), code.alias("c"))
              .select("value_c", "old", decoded.alias("new"))
              .collect())
    for r in rows:
        assert r.old == r.new, f"behavior label diverged for value_c={r.value_c}"


def test_anchor_two_step_hash_equivalence(spark):
    """The r10 two-step anchor path (hash-agg min(vec_id) per label, then
    broadcast-fetch the anchor row by vec_id) must return exactly the rows the
    r09 min/min_by aggregation returned, for every label -- including labels
    whose min vec_id is not globally minimal and single-row labels."""
    data = [
        (7, [1.0, 2.0], "a"), (3, [0.5, 0.25], "a"), (9, [4.0, 4.0], "a"),
        (20, [1.0, 0.0], "b"), (11, [0.0, 1.0], "b"),
        (5, [2.0, 2.0], "c"),
        (1, [9.0, 9.0], "d"), (2, [8.0, 8.0], "d"),
    ]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<double>, label string")

    old = emb.groupBy("label").agg(
        F.min("vec_id").alias("anchor_id"),
        F.min_by("embedding", "vec_id").alias("anchor_vec"),
    )
    ids = (emb.select("vec_id", "label")
              .groupBy("label").agg(F.min("vec_id").alias("anchor_id")))
    new = (emb.join(F.broadcast(ids.select("anchor_id")),
                    emb.vec_id == F.col("anchor_id"))
              .select("label", "anchor_id", F.col("embedding").alias("anchor_vec")))

    o_rows = {r.label: (r.anchor_id, r.anchor_vec) for r in old.collect()}
    n_rows = {r.label: (r.anchor_id, r.anchor_vec) for r in new.collect()}
    assert n_rows == o_rows
