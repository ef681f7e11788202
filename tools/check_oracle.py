"""Oracle parity from the command line: every declared query's Spark output
against its DuckDB oracle on the same sf dir, compared by
`engine.oracle.compare`.  Prints one OK/FAIL line per query (a query that
raises is a FAIL with the error's first line) and exits 1 on any failure.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.logger import PySparkLogger  # noqa: E402

from engine.oracle import compare, views  # noqa: E402
from engine.queries import QUERIES  # noqa: E402
from engine.session import build_session  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(QUERIES)

    con = duckdb.connect()
    views(con, sf_dir)

    # The benchmark's session, so the parity gate checks the configuration
    # that is timed.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = build_session(8, sf_dir=sf_dir, app_name="oracle-check")
    # A query that raises is reported on its FAIL line; keep Spark's executor
    # stack trace and PySpark's JSON error record off stderr.
    spark.sparkContext.setLogLevel("FATAL")
    PySparkLogger.getLogger("SQLQueryContextLogger").disabled = True

    failures = 0
    for name in names:
        t0 = time.time()
        try:
            problems = compare(QUERIES[name].fn(spark, sf_dir), con.sql(QUERIES[name].oracle))
        except Exception as e:  # a query that raises fails; the run goes on
            first_line = str(e).strip().partition("\n")[0]
            problems = [f"{type(e).__name__}: {first_line}"]
        print(f"{name:28s} {'FAIL' if problems else 'OK  '} {time.time() - t0:5.1f}s"
              + (f"  {problems}" if problems else ""))
        failures += bool(problems)

    print(f"\n{failures} of {len(names)} queries FAIL" if failures
          else "\nall queries match the oracle")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
