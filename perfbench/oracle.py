"""Output checks against DuckDB, run once per benchmark run after the timed
passes."""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

import duckdb

from tracing import streaming_layer


def _canon(rows):
    """The canonical form tests/test_queries.py compares: floats by their
    exact hex, rows sorted."""
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v.hex()
        return v

    return sorted(tuple(cell(c) for c in r) for r in rows)


def check_queries(spark, data_dir: str, threads: int) -> tuple[int, list[str]]:
    """Runs every query to `collect` and compares it with its DuckDB oracle.
    The Spark side runs `threads` queries at a time: the check is untimed,
    and the queries are independent.  Returns (queries checked, one message
    per failed query)."""
    from engine.queries import QUERIES
    from engine.tables import TABLES, path

    def collect(name):
        sdf = QUERIES[name].fn(spark, data_dir)
        return [f.name for f in sdf.schema.fields], [tuple(r) for r in sdf.collect()]

    with ThreadPoolExecutor(threads) as pool:
        results = {name: pool.submit(collect, name) for name in sorted(QUERIES)}
    errors = []
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path(data_dir, t)}'")
        for name, result in results.items():
            oracle = QUERIES[name].oracle
            try:
                s_cols, s_rows = result.result()
                if not s_rows:
                    errors.append(f"{name}: no rows")
                    continue
                if oracle is None:
                    continue
                rel = con.sql(oracle)
                cols = list(rel.columns)
                d_rows = rel.fetchall()
                if s_cols != cols:
                    errors.append(f"{name}: columns differ from the oracle's {cols}")
                elif _canon(s_rows) != _canon(d_rows):
                    errors.append(f"{name}: {len(s_rows)} rows differ from the oracle's "
                                  f"{len(d_rows)}")
            except Exception as e:  # a failing query is a counted failure, not a crash
                errors.append(f"{name}: {type(e).__name__}: {e}")
    return len(QUERIES), errors


def check_stream(spark, stream, windowed_table: str, dedup_table: str,
                 dedup_progress: list[dict]) -> tuple[int, list[str]]:
    """Checks one replay of `stream` (an inputs.Stream):

    * windowed_counts equals the batch aggregate over every row written,
      late rows included (complete mode keeps them);
    * stream_dedup equals the distinct on-time (event_id, ts) rows;
    * the dedup dropped exactly the duplicates and late rows written.

    Returns (checks made, one message per failed check)."""
    files = f"{stream.dir}/*.parquet"
    window_us = 6 * 3_600_000_000
    errors = []
    with duckdb.connect() as con:
        want_w = con.sql(f"""
            SELECT epoch_us(ts) // {window_us} * {window_us}, event_type, count(*),
                   CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
            FROM '{files}' GROUP BY 1, 2""").fetchall()
        want_d = con.sql(f"""
            SELECT DISTINCT event_id, epoch_us(ts) FROM '{files}'
            WHERE event_id < {stream.late_id_base}""").fetchall()
    got_w = spark.table(windowed_table).selectExpr(
        "unix_micros(w_start)", "event_type", "n", "sum_value_c").collect()
    got_d = spark.table(dedup_table).selectExpr("event_id", "unix_micros(ts)").collect()
    if sorted(map(tuple, got_w)) != sorted(want_w):
        errors.append(f"windowed_counts: {len(got_w)} groups differ from DuckDB's {len(want_w)}")
    if sorted(map(tuple, got_d)) != sorted(want_d):
        errors.append(f"stream_dedup: {len(got_d)} rows differ from DuckDB's {len(want_d)} "
                      "distinct on-time rows")
    layer = streaming_layer(dedup_progress)
    dups, late = layer["streaming.dup_rows_dropped"], layer["streaming.late_rows_dropped"]
    if (dups, late) != (stream.dups, stream.late):
        errors.append(f"stream_dedup dropped {dups} duplicates and {late} late rows; "
                      f"the stream has {stream.dups} and {stream.late}")
    return 3, errors
